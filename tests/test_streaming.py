"""Streaming incremental linker: end-to-end Structured Streaming runs
(file source -> applyInPandasWithState -> memory sink) compared to the
offline fold on identical data, incl. multi-batch state carry-over."""

import json
import os
import time

import numpy as np
import pandas as pd
import pytest

from streaming_cdc_spark.streaming.linker import fold_mentions, streaming_linker

SCHEMA = "category string, mention_index long, embedding array<double>"


def mention_rows(key="k0"):
    # two tight clusters along axes + one outlier
    vecs = {
        0: [1.0, 0.0, 0.0],
        1: [0.97, 0.05, 0.0],
        2: [0.0, 1.0, 0.0],
        3: [0.99, 0.01, 0.0],
        4: [0.0, 0.98, 0.1],
        5: [0.0, 0.0, 1.0],
    }
    return [{"category": key, "mention_index": i, "embedding": v} for i, v in vecs.items()]


def offline_fold(rows, threshold=0.9, limit=None, strategy="cache"):
    st = {}
    pdf = pd.DataFrame(sorted(rows, key=lambda r: r["mention_index"]))
    return dict(fold_mentions(pdf, st, threshold, limit, strategy))


def run_stream(spark, tmp_path, files, threshold=0.9, limit=None, strategy="cache"):
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    for i, rows in enumerate(files):
        (src / f"f{i}.jsonl").write_text("\n".join(json.dumps(r) for r in rows))
        time.sleep(0.05)  # distinct mtimes -> file order
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(str(src))
    out = streaming_linker(stream, threshold, limit=limit, strategy=strategy)
    q = (
        out.writeStream.format("memory")
        .queryName("linker_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from linker_out").collect()
    spark.catalog.dropTempView("linker_out") if spark.catalog.tableExists("linker_out") else None
    return {r["mention_index"]: r["cluster_id"] for r in rows}


def test_fold_semantics():
    got = offline_fold(mention_rows(), threshold=0.9)
    # 0,1,3 cluster together; 2,4 together; 5 alone
    assert got[0] == 0 and got[1] == 0 and got[3] == 0
    assert got[2] == 2 and got[4] == 2
    assert got[5] == 5


def test_fold_bounded_memory_lru():
    rows = mention_rows()
    got = offline_fold(rows, threshold=0.9, limit=2, strategy="cache")
    # with only 2 active slots the early axis-x reps can be evicted,
    # but every mention still gets a deterministic cluster id
    assert set(got) == {0, 1, 2, 3, 4, 5}
    full = offline_fold(rows, threshold=0.9, limit=None, strategy="cache")
    assert full != got or full == got  # both defined; bounded may differ


@pytest.mark.parametrize("strategy", ["backwards", "diversity", "cache", "diversity-cache"])
def test_fold_strategies_bounded(strategy):
    rng = np.random.default_rng(11)
    rows = [
        {"category": "k", "mention_index": i, "embedding": list(map(float, rng.normal(size=4)))}
        for i in range(30)
    ]
    got = offline_fold(rows, threshold=0.5, limit=5, strategy=strategy)
    assert len(got) == 30  # every mention assigned, state stayed bounded


def test_streaming_single_batch_matches_offline(spark, tmp_path):
    rows = mention_rows()
    got = run_stream(spark, tmp_path, [rows])
    assert got == offline_fold(rows)


def test_streaming_multi_batch_state_carryover(spark, tmp_path):
    rows = mention_rows()
    # split into 3 files -> 3 micro-batches (maxFilesPerTrigger=1);
    # state must carry across batches to reproduce the offline fold
    got = run_stream(spark, tmp_path, [rows[:2], rows[2:4], rows[4:]])
    assert got == offline_fold(rows)


def test_streaming_two_keys_independent_state(spark, tmp_path):
    rows = mention_rows("a") + [
        {**r, "category": "b", "mention_index": r["mention_index"] + 100}
        for r in mention_rows("b")
    ]
    src_rows = sorted(rows, key=lambda r: r["mention_index"])
    got = run_stream(spark, tmp_path, [src_rows])
    # each key clusters independently: same structure shifted by 100
    assert got[0] == 0 and got[3] == 0 and got[100] == 100 and got[103] == 100


def test_ep2_multibatch_query_equals_single_batch(spark):
    """The registry-level multi-batch variant (4 id-range files,
    maxFilesPerTrigger=1) must reproduce the single-drain query
    exactly: batch order == id order, state carried between batches."""
    from streaming_cdc_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    single = {tuple(r) for r in QUERIES["ep2_streaming_clusters"](spark, sf).collect()}
    multi = {tuple(r) for r in QUERIES["ep2_streaming_multibatch"](spark, sf).collect()}
    assert multi == single and len(single) > 0


def test_restart_recovers_linker_state(spark, tmp_path):
    """Production restart semantics: drain the first files, STOP, add
    more files, restart from the SAME checkpoint — the file source
    must skip already-processed files and the keyed state store must
    restore the active set, so run1 ∪ run2 equals the uninterrupted
    offline fold."""
    rows = mention_rows()
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def drain(qname):
        # foreachBatch, not the memory sink: memory does not support
        # checkpoint recovery (it is the recovery we are testing)
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        out = streaming_linker(stream, 0.9)
        got = {}

        def sink(batch_df, _bid):
            for r in batch_df.collect():
                got[r["mention_index"]] = r["cluster_id"]

        q = (
            out.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return got

    (src / "f0.jsonl").write_text("\n".join(json.dumps(r) for r in rows[:3]))
    got1 = drain("restart_a")
    assert set(got1) == {0, 1, 2}
    time.sleep(0.05)
    (src / "f1.jsonl").write_text("\n".join(json.dumps(r) for r in rows[3:]))
    got2 = drain("restart_b")
    # second run emits ONLY the new mentions (f0 already committed)
    assert set(got2) == {3, 4, 5}
    assert {**got1, **got2} == offline_fold(rows)


def test_progressive_stream_budget_and_idempotency(spark, tmp_path):
    """The budgeted streaming resolver: (a) never verifies more than
    the per-batch budget, (b) a replayed micro-batch (foreachBatch
    at-least-once) overwrites its own outputs — results identical
    after a double apply."""
    from streaming_cdc_spark.streaming.progressive import ProgressiveResolver

    docs = spark.createDataFrame(
        [(i, "w%d common tokens here repeated often enough %d" % (i % 3, i), 0)
         for i in range(10)]
        + [(i, "other batch text block shared shingle run %d" % (i % 2), 1)
           for i in range(10, 20)],
        "doc_id long, text string, bucket int",
    )
    r = ProgressiveResolver(str(tmp_path / "st"), budget=5, df_cap=50, tau=0.05)
    b0 = docs.filter("bucket = 0")
    b1 = docs.filter("bucket = 1")
    r.apply_batch(b0, 0)
    r.apply_batch(b1, 1)
    first = {tuple(x) for x in r.results(spark).collect()}
    per_batch = (
        r.results(spark).groupBy("batch_id").sum("n_pairs").collect()
    )
    assert first, "resolver produced no rows"
    assert all(row[1] <= 5 for row in per_batch), "budget exceeded"
    # replay batch 1: identical state afterwards
    r.apply_batch(b1, 1)
    again = {tuple(x) for x in r.results(spark).collect()}
    assert again == first
    # a single micro-batch carrying BOTH buckets (availableNow without
    # maxFilesPerTrigger) must fold bucket-by-bucket to the same result
    r2 = ProgressiveResolver(str(tmp_path / "st2"), budget=5, df_cap=50, tau=0.05)
    r2.apply_batch(docs, 0)
    assert {tuple(x) for x in r2.results(spark).collect()} == first
    # REPLAY of the committed multi-bucket batch: skipped whole
    r2.apply_batch(docs, 0)
    assert {tuple(x) for x in r2.results(spark).collect()} == first


def test_progressive_multibucket_replay_df_cap(spark, tmp_path, monkeypatch):
    """Adversarial multi-bucket redelivery: bucket 1 duplicates bucket
    0's texts so the visible shingle df doubles once b1's partials
    exist. With df_cap between the two, a reprocessed bucket 0 that
    could see b1's state would cut every shingle and publish an EMPTY
    b0 results dir — the exact at-least-once violation from ADVICE r3.
    The first delivery crashes after writing both buckets, before its
    commit: the redelivery must read only committed state and equal a
    clean run."""
    import os

    import pytest

    from streaming_cdc_spark.streaming.commit import CommitPointer
    from streaming_cdc_spark.streaming.progressive import ProgressiveResolver

    text = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(i, text, 0) for i in range(5)] + [(10 + i, text, 1) for i in range(5)],
        "doc_id long, text string, bucket int",
    )
    clean = ProgressiveResolver(str(tmp_path / "clean"), budget=50, df_cap=7, tau=0.05)
    clean.apply_batch(docs, 0)  # one micro-batch carrying BOTH buckets
    first = {tuple(x) for x in clean.results(spark).collect()}
    b0_rows = [t for t in first if t[0] == 0]
    assert b0_rows, "bucket 0 produced no rows (df_cap bound too early)"

    def crash(self, pointer):
        raise RuntimeError("crash before the commit")

    r = ProgressiveResolver(str(tmp_path / "st"), budget=50, df_cap=7, tau=0.05)
    with monkeypatch.context() as m:
        m.setattr(CommitPointer, "publish", crash)
        with pytest.raises(RuntimeError):
            r.apply_batch(docs, 0)
    # the crashed attempt's b1 state is on disk, but nothing is committed
    assert os.path.isdir(os.path.join(r.df_root, "b1"))
    assert r.results(spark).count() == 0
    r.apply_batch(docs, 0)  # at-least-once redelivery of the whole batch
    assert {tuple(x) for x in r.results(spark).collect()} == first


def test_progressive_state_reads_declare_written_schemas(spark, tmp_path):
    """Every state read passes the schema the resolver writes: building
    the reads runs no schema-inference job, and each declared schema
    equals the one Spark infers from the written files."""
    import os

    from streaming_cdc_spark.streaming.progressive import ProgressiveResolver

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta shared run %d %d" % (i % 4, i), i // 5)
         for i in range(10)],
        "doc_id long, text string, bucket int",
    )
    r = ProgressiveResolver(str(tmp_path / "st"), budget=5, df_cap=50, tau=0.05)
    r.apply_batch(docs, 0)
    tables = (
        (r.state_root, r.POSTINGS_SCHEMA),
        (r.df_root, r.DF_SCHEMA),
        (r.result_root, r.RESULT_SCHEMA),
    )
    sc = spark.sparkContext
    sc.setJobGroup("progressive_reads", "progressive_reads")
    try:
        reads = [
            r._seen(spark, root, schema, r.pointer.read()["state"])
            for root, schema in tables[:2]
        ] + [r.results(spark)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("progressive_reads") == []
    for df, (root, _schema) in zip(reads, tables):
        inferred = spark.read.parquet(os.path.join(root, "b0")).schema
        assert [(f.name, f.dataType) for f in df.schema] == [
            (f.name, f.dataType) for f in inferred
        ]


def test_progressive_compaction_preserves_results(spark, tmp_path):
    """compact() folds old bucket state into one generation without
    changing anything the resolver computes: a run compacted between
    batches equals the uncompacted run; a replay of the newest
    (kept) bucket after compaction stays idempotent; and old bucket
    dirs are actually gone."""
    import os

    from streaming_cdc_spark.streaming.progressive import ProgressiveResolver

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta shared run %d %d" % (i % 4, i), i // 5)
         for i in range(15)],
        "doc_id long, text string, bucket int",
    )
    batches = [docs.filter(f"bucket = {b}") for b in range(3)]

    plain = ProgressiveResolver(str(tmp_path / "plain"), budget=5, df_cap=50, tau=0.05)
    for i, b in enumerate(batches):
        plain.apply_batch(b, i)
    expected = {tuple(x) for x in plain.results(spark).collect()}
    assert expected

    comp = ProgressiveResolver(str(tmp_path / "comp"), budget=5, df_cap=50, tau=0.05)
    for i, b in enumerate(batches):
        comp.apply_batch(b, i)
    comp.compact(spark, keep_last=1)  # folds b0+b1 -> compact_v0; keeps b2
    state_dirs = sorted(os.listdir(comp.state_root))
    assert "compact_v0" in state_dirs
    assert "b0" not in state_dirs and "b1" not in state_dirs and "b2" in state_dirs
    comp.apply_batch(batches[2], 2)  # replay of the kept bucket
    assert {tuple(x) for x in comp.results(spark).collect()} == expected
    # second compaction folds the generation + the last bucket
    comp.compact(spark, keep_last=0)
    state_dirs = sorted(os.listdir(comp.state_root))
    assert "compact_v1" in state_dirs and "compact_v0" not in state_dirs
    assert {tuple(x) for x in comp.results(spark).collect()} == expected


def test_progressive_compaction_crash_between_publish_and_cleanup(spark, tmp_path):
    """If compaction crashes AFTER publishing compact_v0 but BEFORE
    deleting its inputs, readers resolve only what the pointer names:
    the next bucket skips the still-present subsumed bucket dirs — no
    double counting."""
    import os
    import shutil

    from streaming_cdc_spark.streaming.progressive import ProgressiveResolver

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta shared run %d %d" % (i % 4, i), i // 5)
         for i in range(20)],
        "doc_id long, text string, bucket int",
    )
    batches = [docs.filter(f"bucket = {b}") for b in range(4)]
    plain = ProgressiveResolver(str(tmp_path / "plain"), budget=5, df_cap=50, tau=0.05)
    for i, b in enumerate(batches):
        plain.apply_batch(b, i)
    expected = {tuple(x) for x in plain.results(spark).collect()}
    r = ProgressiveResolver(str(tmp_path / "st"), budget=5, df_cap=50, tau=0.05)
    for i, b in enumerate(batches[:3]):
        r.apply_batch(b, i)
    # snapshot b0's postings, compact, then "un-delete" b0 to simulate
    # a crash after the pointer flip
    b0 = os.path.join(r.state_root, "b0")
    saved = str(tmp_path / "b0_saved")
    shutil.copytree(b0, saved)
    r.compact(spark, keep_last=1)
    shutil.copytree(saved, b0)  # crash left the subsumed dir behind
    assert "b0" not in r.pointer.read()["state"]
    r.apply_batch(batches[3], 3)  # reads state: must skip b0
    assert {tuple(x) for x in r.results(spark).collect()} == expected


def test_progressive_compaction_edge_cases(spark, tmp_path):
    """compact() is a safe no-op on empty state and when keep_last
    covers every bucket."""
    import os

    from streaming_cdc_spark.streaming.progressive import ProgressiveResolver

    r = ProgressiveResolver(str(tmp_path / "st"), budget=5, df_cap=50, tau=0.05)
    r.compact(spark)  # empty state: nothing to fold, no crash
    assert os.listdir(r.state_root) == []
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta %d" % i, 0) for i in range(5)],
        "doc_id long, text string, bucket int",
    )
    r.apply_batch(docs, 0)
    before = {tuple(x) for x in r.results(spark).collect()}
    r.compact(spark, keep_last=5)  # keep_last > buckets: no fold
    assert sorted(os.listdir(r.state_root)) == ["b0"]
    assert {tuple(x) for x in r.results(spark).collect()} == before


def _tree_bytes(root):
    import os

    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_progressive_scheduled_compaction(spark, tmp_path):
    """compact_every folds state INSIDE the stream: after 6 buckets
    with compact_every=3, a compacted generation exists, old bucket
    dirs are gone, results equal the uncompacted run, and a
    redelivery of the last batch leaves the results byte-identical."""
    import os

    from streaming_cdc_spark.streaming.progressive import ProgressiveResolver

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta shared run %d %d" % (i % 4, i), i // 4)
         for i in range(24)],
        "doc_id long, text string, bucket int",
    )
    batches = [docs.filter(f"bucket = {b}") for b in range(6)]
    plain = ProgressiveResolver(str(tmp_path / "plain"), budget=5, df_cap=50, tau=0.05)
    comp = ProgressiveResolver(
        str(tmp_path / "comp"), budget=5, df_cap=50, tau=0.05, compact_every=3
    )
    for i, b in enumerate(batches):
        plain.apply_batch(b, i)
        comp.apply_batch(b, i)
    state = sorted(os.listdir(comp.state_root))
    assert any(d.startswith("compact_v") for d in state), state
    assert "b0" not in state  # folded
    assert "b5" in state  # keep_last protects the newest
    expected = {tuple(x) for x in plain.results(spark).collect()}
    assert {tuple(x) for x in comp.results(spark).collect()} == expected
    before = _tree_bytes(comp.result_root)
    comp.apply_batch(batches[5], 5)  # at-least-once redelivery
    assert _tree_bytes(comp.result_root) == before
    assert {tuple(x) for x in comp.results(spark).collect()} == expected


def test_scheduled_compaction_protects_current_batch(spark, tmp_path):
    """An in-stream compaction during a MULTI-bucket micro-batch folds
    buckets of that same batch (compact_every=2 fires after bucket 5
    of batch [2..5] and folds b0..b3); a redelivery of the whole batch
    afterwards must leave the results byte-identical and equal to the
    uncompacted run (code-review r4)."""
    from streaming_cdc_spark.streaming.progressive import ProgressiveResolver

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta shared run %d %d" % (i % 4, i), i // 4)
         for i in range(24)],
        "doc_id long, text string, bucket int",
    )
    a = docs.filter("bucket < 2")
    b = docs.filter("bucket >= 2")
    plain = ProgressiveResolver(str(tmp_path / "plain"), budget=5, df_cap=50, tau=0.05)
    r = ProgressiveResolver(
        str(tmp_path / "st"), budget=5, df_cap=50, tau=0.05, compact_every=2
    )
    for res in (plain, r):
        res.apply_batch(a, 0)
        res.apply_batch(b, 1)
    state = r.pointer.read()["state"]
    assert state[0].startswith("compact_v") and "b2" not in state, state
    expected = {tuple(x) for x in plain.results(spark).collect()}
    assert {tuple(x) for x in r.results(spark).collect()} == expected
    before = _tree_bytes(r.result_root)
    r.apply_batch(b, 1)  # at-least-once redelivery of the whole batch
    assert _tree_bytes(r.result_root) == before
    assert {tuple(x) for x in r.results(spark).collect()} == expected


def test_streaming_bloom_dedup_multibatch(spark, tmp_path):
    """Bounded-state streaming dedup: no key emitted 'fresh' twice —
    across batches AND within one — and false drops stay at the Bloom
    FP rate. State is n_shards bitmaps regardless of key count."""
    from streaming_cdc_spark.streaming.windows import streaming_bloom_dedup
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    src = tmp_path / "bloom_src"
    src.mkdir()
    ckpt = str(tmp_path / "bloom_ckpt")
    # batch 0: keys k0..k59 (k7 twice in-batch); batch 1: k40..k99
    # (40..59 are cross-batch dups); batch 2: all repeats
    b0 = [(i, f"k{i}") for i in range(60)] + [(1000, "k7")]
    b1 = [(100 + i, f"k{i}") for i in range(40, 100)]
    b2 = [(200 + i, f"k{i}") for i in range(0, 100, 5)]
    for bi, rows in enumerate((b0, b1, b2)):
        (src / f"f{bi}.jsonl").write_text(
            "\n".join(json.dumps({"event_id": i, "text": k}) for i, k in rows)
        )
        time.sleep(0.05)
    schema = StructType(
        [StructField("event_id", LongType()), StructField("text", StringType())]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))
    )
    out = streaming_bloom_dedup(stream, key_col="text", id_col="event_id")
    q = (
        out.writeStream.format("memory")
        .queryName("bloom_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["event_id"]: r["status"] for r in spark.sql("select * from bloom_out").collect()}
    key_of = dict(b0 + b1 + b2)
    assert len(got) == len(key_of)
    fresh_keys = [key_of[i] for i, s in got.items() if s == "fresh"]
    # no false negatives: a key never comes out fresh twice
    assert len(fresh_keys) == len(set(fresh_keys))
    # every true duplicate is dropped
    assert got[1000] == "dup"  # in-batch dup of k7
    for i in range(40, 60):
        assert got[100 + i] == "dup"  # cross-batch dup
    for i in range(0, 100, 5):
        assert got[200 + i] == "dup"  # third-batch repeats
    # false drops (fresh keys marked dup) bounded: 100 distinct keys
    # in 16k bits -> FPR well under 5%
    n_false_drops = 100 - len(set(fresh_keys))
    assert n_false_drops <= 5, n_false_drops


def test_streaming_bloom_dedup_multichunk_group_order(spark, tmp_path):
    """A shard group larger than one Arrow chunk must still process in
    GLOBAL id order — a per-chunk sort would let a high-id duplicate
    claim 'fresh' before its low-id original (review-found bug)."""
    from streaming_cdc_spark.streaming.windows import streaming_bloom_dedup
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        src = tmp_path / "mc_src"
        src.mkdir()
        # one batch, 120 rows, 1 shard -> ~18 chunks at 7 rows; keys
        # repeat so the dup/fresh split depends entirely on id order
        rows = [(i, f"key{i % 40}") for i in range(120)]
        (src / "f0.jsonl").write_text(
            "\n".join(json.dumps({"event_id": i, "text": k}) for i, k in rows)
        )
        schema = StructType(
            [StructField("event_id", LongType()), StructField("text", StringType())]
        )
        stream = spark.readStream.schema(schema).json(str(src))
        out = streaming_bloom_dedup(
            stream, key_col="text", id_col="event_id", n_shards=1
        )
        q = (
            out.writeStream.format("memory")
            .queryName("mc_out")
            .option("checkpointLocation", str(tmp_path / "mc_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["event_id"]: r["status"]
            for r in spark.sql("select * from mc_out").collect()
        }
        # ids 0..39 first-seen (modulo FP) -> every id >= 40 is a dup
        assert all(got[i] == "dup" for i in range(40, 120))
        fresh = [i for i in range(40) if got[i] == "fresh"]
        assert len(fresh) >= 35  # tiny bitmap FPs possible, order is not
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_update_mode_emits_only_touched_keys_with_running_totals(spark, tmp_path):
    # the streaming_update_mode_counts semantics on a hand geometry:
    # key 'a' in every batch -> 3 emissions with running counts;
    # 'b'/'c' once each -> single emissions. Pinned so a Spark
    # upgrade changing update-mode emission fails HERE.
    from pyspark.sql import functions as F

    from streaming_cdc_spark.session import drain_stream, write_mtime_pinned_splits

    def df(rows):
        return spark.createDataFrame(rows, "k string, v long")

    write_mtime_pinned_splits(
        [df([("a", 1), ("b", 2)]), df([("a", 3)]), df([("c", 4), ("a", 5)])],
        str(tmp_path / "src"),
    )
    stream = (
        spark.readStream.schema("k string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src" / "split_*") + "/*.parquet")
    )
    agg = stream.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    got = sorted(
        map(tuple, drain_stream(agg, "updt", output_mode="update").collect())
    )
    assert got == [
        ("a", 1, 1), ("a", 2, 4), ("a", 3, 9),
        ("b", 1, 2), ("c", 1, 4),
    ]


def test_linker_multichunk_group_is_global_id_order(spark, tmp_path):
    """A linker group spanning multiple Arrow chunks must fold in
    GLOBAL id order — the old per-chunk sort let a later chunk's
    low-id mention fold after an earlier chunk's high-id one
    (the bloom-dedup r4 bug class, recurred in the linker)."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        # one key, 60 mentions, one-hot group vectors (group = i % 5),
        # limit 6: with window >= gap 5 every mention links to its
        # group predecessor iff the fold order is the id order; a
        # chunk-local order changes which predecessor is in-window.
        rows = [
            {
                "category": "k",
                "mention_index": i,
                "embedding": [1.0 if j == i % 5 else 0.0 for j in range(5)],
            }
            for i in range(60)
        ]
        src = tmp_path / "lmc_src"
        src.mkdir()
        (src / "f0.jsonl").write_text("\n".join(json.dumps(r) for r in rows))
        stream = spark.readStream.schema(SCHEMA).json(str(src))
        out = streaming_linker(stream, threshold=0.5, limit=6, strategy="backwards")
        q = (
            out.writeStream.format("memory")
            .queryName("lmc_out")
            .option("checkpointLocation", str(tmp_path / "lmc_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            r["mention_index"]: r["cluster_id"]
            for r in spark.sql("select * from lmc_out").collect()
        }
        # in id order with limit 6 > gap 5, every mention chains to
        # its group's first member: cluster_id = i % 5
        assert got == {i: i % 5 for i in range(60)}, got
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_linkreplay_fixture_geometry_exercises_both_branches(spark):
    """ep2_streaming_linker_replay is vacuous unless the fixture makes
    the linker BOTH link (gap <= limit) and break (gap > limit after
    a same-group predecessor) — pin the geometry at sf0.01 so a
    testdata regen that degenerates it fails here by name."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from streaming_cdc_spark.functions.hashing import md5_long
    from streaming_cdc_spark.queries.cdc2 import (
        _LINKREPLAY_GROUPS,
        _LINKREPLAY_KEYS,
        _LINKREPLAY_LIMIT,
    )
    from streaming_cdc_spark.tables import load

    emb = load(spark, "/root/testdata/sf0.01", "embeddings").select("vec_id")
    m = emb.select(
        "vec_id",
        (F.col("vec_id") % _LINKREPLAY_KEYS).alias("key"),
        (md5_long(F.col("vec_id").cast("string")) % _LINKREPLAY_GROUPS).alias(
            "grp"
        ),
    )
    pos = m.withColumn(
        "p", F.row_number().over(W.partitionBy("key").orderBy("vec_id"))
    )
    gaps = pos.withColumn(
        "gap",
        F.col("p")
        - F.lag("p").over(W.partitionBy("key", "grp").orderBy("p")),
    ).filter(F.col("gap").isNotNull())
    n_linked = gaps.filter(F.col("gap") <= _LINKREPLAY_LIMIT).count()
    n_breaks = gaps.filter(F.col("gap") > _LINKREPLAY_LIMIT).count()
    assert n_linked >= 10, n_linked
    assert n_breaks >= 10, n_breaks


def _drain_stores(spark, df, ckpt, mode="append"):
    """availableNow-drain ``df`` into a memory table under
    stream_start_conf(spark, df), hand-started to read its progress.
    Returns (sorted rows, set of numShufflePartitions over every
    stateful operator of every trigger)."""
    from streaming_cdc_spark.session import stream_start_conf

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with stream_start_conf(spark, df) as conf:
        n = conf.partitions()
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
        q = (
            df.writeStream.format("memory")
            .queryName("ssc_probe")
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    # restored right after start(), while the stream still runs
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    q.awaitTermination()
    stores = {
        op["numShufflePartitions"]
        for p in q.recentProgress
        for op in p.get("stateOperators") or []
    }
    rows = sorted(map(tuple, spark.table("ssc_probe").collect()))
    spark.catalog.dropTempView("ssc_probe")
    return rows, stores


def test_stream_start_conf_sizes_state_stores_and_restores(
    spark, tmp_path, monkeypatch
):
    """stream_start_conf sizes the state-store count (= the shuffle
    partitions a stateful stream bakes into its checkpoint) from the
    stream: 1 for an undeclared stateful operator, min(state_shards,
    defaultParallelism) for the sharded sketches, the
    SPARK_GRAFT_STREAM_SHUFFLE override over both. It restores the
    session value on exit and on exception, and the drained rows do
    not depend on the count."""
    import tempfile

    from pyspark.sql import functions as F

    from streaming_cdc_spark.session import stream_start_conf, write_mtime_pinned_splits
    from streaming_cdc_spark.streaming.windows import (
        streaming_bloom_dedup,
        streaming_misra_gries,
    )

    schema = "event_id long, key string, text string, v long"
    rows = [(i, f"k{i % 5}", f"t{i % 7}", i) for i in range(40)]
    write_mtime_pinned_splits(
        [spark.createDataFrame(rows[:20], schema), spark.createDataFrame(rows[20:], schema)],
        str(tmp_path / "src"),
    )

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "src" / "split_*") + "/*.parquet")
        )

    def agg():
        return stream().groupBy("key").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))

    dp = spark.sparkContext.defaultParallelism

    def drain(df, mode="append"):
        return _drain_stores(spark, df, tempfile.mkdtemp(dir=tmp_path), mode)

    monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE", raising=False)
    agg_1, stores = drain(agg(), "complete")
    assert stores == {1}
    assert agg_1 == [(f"k{j}", 8, sum(range(j, 40, 5))) for j in range(5)]
    bloom = {}
    for n_shards in (3, 8):
        bloom[n_shards], stores = drain(streaming_bloom_dedup(stream(), n_shards=n_shards))
        assert stores == {min(n_shards, dp)}
    mg_3, stores = drain(streaming_misra_gries(stream(), k=4, n_shards=3))
    assert stores == {min(3, dp)}

    # the deployment override wins over the default and the declaration
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", "2")
    agg_2, stores = drain(agg(), "complete")
    assert stores == {2} and agg_2 == agg_1
    bloom_2, stores = drain(streaming_bloom_dedup(stream(), n_shards=8))
    assert stores == {2} and bloom_2 == bloom[8]
    mg_2, stores = drain(streaming_misra_gries(stream(), k=4, n_shards=3))
    assert stores == {2} and mg_2 == mg_3
    assert [r[2] for r in bloom[8]].count("fresh") == 7

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError, match="boom"):
        with stream_start_conf(spark, agg()):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_restart_keeps_checkpoint_state_store_count(spark, tmp_path, monkeypatch):
    """Spark takes a restarted stateful stream's state-store count from
    its checkpoint, not from the conf at start: a checkpoint written at
    4 stores keeps 4 when stream_start_conf now picks 1. Checkpoints
    written under an older count therefore stay readable."""
    from pyspark.sql import functions as F

    from streaming_cdc_spark.session import stream_start_conf

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def put(i, rows):
        (src / f"f{i}.jsonl").write_text(
            "\n".join(json.dumps({"k": k, "v": v}) for k, v in rows)
        )
        time.sleep(0.05)

    def agg():
        s = spark.readStream.schema("k string, v long").option("maxFilesPerTrigger", 1).json(str(src))
        return s.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))

    put(0, [("a", 1), ("b", 2)])
    put(1, [("a", 3)])
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", "4")
    first, stores = _drain_stores(spark, agg(), ckpt, "complete")
    assert stores == {4} and first == [("a", 2, 4), ("b", 1, 2)]

    monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE")
    put(2, [("b", 5), ("c", 7)])
    assert stream_start_conf(spark, agg()).partitions() == 1
    resumed, stores = _drain_stores(spark, agg(), ckpt, "complete")
    assert stores == {4}
    assert resumed == [("a", 2, 4), ("b", 2, 7), ("c", 1, 7)]


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _ckpt_dirs():
    import glob
    import tempfile

    return set(glob.glob(os.path.join(tempfile.gettempdir(), "*_ckpt_*")))


def test_drains_leave_no_view_or_checkpoint(spark, tmp_path):
    """Every drain removes its checkpoint dir and its memory-sink temp
    view: ep2_streaming and the two watermarked append-mode queries
    used to keep the view (and the sink's rows on the driver) for the
    rest of the session."""
    from streaming_cdc_spark.pipelines import ep2_streaming
    from streaming_cdc_spark.queries import QUERIES
    from streaming_cdc_spark.tables import DEFAULT_SF_DIR

    views, ckpts = _temp_views(spark), _ckpt_dirs()
    # the tests/test_bisection.py::test_ep2_streaming fixture
    vecs = {0: ([1.0, 0.0], "A"), 1: ([0.99, 0.05], "A"),
            2: ([0.0, 1.0], "B"), 3: ([0.03, 0.99], "B")}
    src = tmp_path / "src"
    src.mkdir()
    (src / "m.jsonl").write_text(
        "\n".join(
            json.dumps({"category": "k", "mention_index": i, "embedding": v})
            for i, (v, _) in vecs.items()
        )
    )
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    gold = spark.createDataFrame(
        [(i, lab) for i, (_, lab) in vecs.items()], "mention_index long, entity_id string"
    )
    out = ep2_streaming(stream, gold, threshold=0.9)
    assert out["summary"].first()["mean_f1"] == pytest.approx(1.0, abs=1e-6)
    sf = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
    for name in ("watermarked_daily_counts", "streaming_sessions_finalized"):
        assert QUERIES[name](spark, sf).count() > 0
    assert _temp_views(spark) - views == set()
    assert _ckpt_dirs() - ckpts == set()


def test_drain_stream_handler_error_propagates_and_cleans_up(spark, tmp_path):
    """A failing foreachBatch handler surfaces out of drain_stream (the
    untimed await raises StreamingQueryException) and the drain's
    checkpoint dir is still removed."""
    from pyspark.errors import StreamingQueryException

    from streaming_cdc_spark.session import drain_stream

    src = tmp_path / "src"
    src.mkdir()
    (src / "f0.jsonl").write_text(json.dumps(mention_rows()[0]))
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    before, during = _ckpt_dirs(), set()

    def handler(batch_df, batch_id):
        during.update(_ckpt_dirs() - before)
        raise ValueError("handler boom")

    with pytest.raises(StreamingQueryException, match="handler boom"):
        drain_stream(stream, handler)
    assert len(during) == 1
    assert not any(os.path.exists(d) for d in during)


def test_stream_starts_only_in_session():
    """Every engine stream start goes through session.drain_stream: no
    other module under streaming_cdc_spark/ may hand-roll one. The
    stream's state-store count has one decision point too: only
    session.py reads SPARK_GRAFT_STREAM_SHUFFLE or sets
    spark.sql.shuffle.partitions."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "streaming_cdc_spark"
    sets_partitions = re.compile(r"\.set\(\s*[\"']spark\.sql\.shuffle\.partitions")

    def hits(pred):
        return sorted(str(p.relative_to(root)) for p in root.rglob("*.py") if pred(p.read_text()))

    assert hits(lambda t: "writeStream" in t or "stream_start_conf(" in t) == ["session.py"]
    assert hits(lambda t: "SPARK_GRAFT_STREAM_SHUFFLE" in t) == ["session.py"]
    assert hits(sets_partitions.search) == ["session.py"]


def test_driver_jvm_launch_only_in_session():
    """The driver JVM's launch options and conf dir (the class-data
    archive, the empty SPARK_CONF_DIR) have one decision point too:
    no module under streaming_cdc_spark/ but session.py names them."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "streaming_cdc_spark"
    for name in ("spark.driver.defaultJavaOptions", "SPARK_CONF_DIR"):
        assert sorted(str(p.relative_to(root)) for p in root.rglob("*.py") if name in p.read_text()) == [
            "session.py"
        ], name


def _renames(call):
    """(src, dst) column renames among a call's direct arguments:
    ``F.col("v").alias("u")`` and ``"v AS u"`` both give ("v", "u")."""
    import ast
    import re

    out = set()
    for a in call.args:
        if isinstance(a, ast.Constant) and isinstance(a.value, str):
            m = re.fullmatch(r"\s*(\w+)\s+AS\s+(\w+)\s*", a.value, re.IGNORECASE)
            if m:
                out.add((m.group(1), m.group(2)))
        elif (
            isinstance(a, ast.Call)
            and isinstance(a.func, ast.Attribute)
            and a.func.attr == "alias"
            and isinstance(a.func.value, ast.Call)
            and a.func.value.args
        ):
            src, dst = a.func.value.args[0], a.args[0] if a.args else None
            if isinstance(src, ast.Constant) and isinstance(dst, ast.Constant):
                out.add((src.value, dst.value))
    return out


def test_edges_symmetrized_only_in_sym_edges():
    """Every graph operator gets its symmetric edges from
    operators/clustering.py::sym_edges: no other code under
    streaming_cdc_spark/operators/ may build a flipped (v AS u, u AS v)
    copy of an edge list."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "streaming_cdc_spark" / "operators"
    hits = []
    for p in sorted(root.rglob("*.py")):
        tree = ast.parse(p.read_text())
        allowed = {
            id(n)
            for f in ast.walk(tree)
            if isinstance(f, ast.FunctionDef) and f.name == "sym_edges" and p.name == "clustering.py"
            for n in ast.walk(f)
        }
        hits += [
            f"{p.name}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and id(n) not in allowed
            and {("v", "u"), ("u", "v")} <= _renames(n)
        ]
    assert hits == []
