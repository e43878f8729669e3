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


def run_stream_tws(spark, tmp_path, files, threshold=0.9, limit=None, strategy="cache"):
    from streaming_cdc_spark.streaming.linker import streaming_linker_tws

    src = tmp_path / "tws_src"
    src.mkdir()
    ckpt = str(tmp_path / "tws_ckpt")
    for i, rows in enumerate(files):
        (src / f"f{i}.jsonl").write_text("\n".join(json.dumps(r) for r in rows))
        time.sleep(0.05)
    # transformWithState requires the RocksDB state store backend
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(str(src))
    out = streaming_linker_tws(stream, threshold, limit=limit, strategy=strategy)
    q = (
        out.writeStream.format("memory")
        .queryName("tws_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from tws_out").collect()
    return {r["mention_index"]: r["cluster_id"] for r in rows}


def test_transform_with_state_linker_matches_offline(spark, tmp_path):
    """The Spark 4 StatefulProcessor backend reproduces the
    applyInPandasWithState linker exactly, including multi-batch
    state carry-over. transformWithState's state protocol speaks
    protobuf between the JVM and the Python state server — skip
    where the protobuf wheel isn't installed (this container)."""
    pytest.importorskip("google.protobuf")
    rows = mention_rows()
    got = run_stream_tws(spark, tmp_path, [rows[:2], rows[2:4], rows[4:]])
    assert got == offline_fold(rows)


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
    # REPLAY of the multi-bucket batch: bucket 0's reprocessing must
    # not see bucket 1's state written by the first application (the
    # _seen cut is "all buckets >= current", not just "current") —
    # otherwise the df cap shifts and b0's results dir is overwritten
    # with different content
    r2.apply_batch(docs, 0)
    assert {tuple(x) for x in r2.results(spark).collect()} == first


def test_progressive_multibucket_replay_df_cap(spark, tmp_path):
    """Adversarial multi-bucket replay: bucket 1 duplicates bucket 0's
    texts so the visible shingle df doubles once b1's partials exist.
    With df_cap between the two, a replayed bucket 0 that could see
    b1's state would cut every shingle and publish an EMPTY b0
    results dir — the exact at-least-once violation from ADVICE r3.
    The >=-bucket exclusion must keep the replay byte-identical."""
    from streaming_cdc_spark.streaming.progressive import ProgressiveResolver

    text = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(i, text, 0) for i in range(5)] + [(10 + i, text, 1) for i in range(5)],
        "doc_id long, text string, bucket int",
    )
    r = ProgressiveResolver(str(tmp_path / "st"), budget=50, df_cap=7, tau=0.05)
    r.apply_batch(docs, 0)  # one micro-batch carrying BOTH buckets
    first = {tuple(x) for x in r.results(spark).collect()}
    b0_rows = [t for t in first if t[0] == 0]
    assert b0_rows, "bucket 0 produced no rows (df_cap bound too early)"
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
            r._seen(spark, root, schema, exclude_from=2) for root, schema in tables[:2]
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
    deleting its inputs, the manifest must make readers skip the
    still-present subsumed bucket dirs — no double counting."""
    import os
    import shutil

    from streaming_cdc_spark.streaming.progressive import ProgressiveResolver

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta shared run %d %d" % (i % 4, i), i // 5)
         for i in range(15)],
        "doc_id long, text string, bucket int",
    )
    batches = [docs.filter(f"bucket = {b}") for b in range(3)]
    r = ProgressiveResolver(str(tmp_path / "st"), budget=5, df_cap=50, tau=0.05)
    for i, b in enumerate(batches):
        r.apply_batch(b, i)
    expected = {tuple(x) for x in r.results(spark).collect()}
    # snapshot b0's postings, compact, then "un-delete" b0 to simulate
    # a crash after the atomic rename
    b0 = os.path.join(r.state_root, "b0")
    saved = str(tmp_path / "b0_saved")
    shutil.copytree(b0, saved)
    r.compact(spark, keep_last=1)
    shutil.copytree(saved, b0)  # crash left the subsumed dir behind
    assert "b0" not in ProgressiveResolver._live_dirs(r.state_root)
    r.apply_batch(batches[2], 2)  # replay reads state: must skip b0
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


def test_progressive_scheduled_compaction(spark, tmp_path):
    """compact_every folds state INSIDE the stream: after 6 buckets
    with compact_every=3/keep_last=2, a compacted generation exists,
    old bucket dirs are gone, and results equal the uncompacted run."""
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
        str(tmp_path / "comp"), budget=5, df_cap=50, tau=0.05,
        compact_every=3, compact_keep_last=2,
    )
    for i, b in enumerate(batches):
        plain.apply_batch(b, i)
        comp.apply_batch(b, i)
    state = sorted(os.listdir(comp.state_root))
    assert any(d.startswith("compact_v") for d in state), state
    assert "b0" not in state  # folded
    assert "b5" in state  # keep_last protects the newest
    assert {tuple(x) for x in comp.results(spark).collect()} == {
        tuple(x) for x in plain.results(spark).collect()
    }
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep_last"):
        ProgressiveResolver(str(tmp_path / "bad"), compact_every=2, compact_keep_last=0)


def test_scheduled_compaction_protects_current_batch(spark, tmp_path):
    """In-stream compaction during a MULTI-bucket micro-batch must
    never fold that batch's own buckets: with compact_every=2 /
    keep_last=1, batch B=[2..5] triggers a fold after bucket 3 that
    would otherwise swallow b2 — then a redelivery of the whole batch
    would see its own first-application state inside the compacted
    generation (invisible to _seen's >=-cut) and double-count. The
    protect_from floor keeps every current-batch bucket unfolded and
    the full-batch replay byte-identical (code-review r4)."""
    import os

    from streaming_cdc_spark.streaming.progressive import ProgressiveResolver

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta shared run %d %d" % (i % 4, i), i // 4)
         for i in range(24)],
        "doc_id long, text string, bucket int",
    )
    a = docs.filter("bucket < 2")
    b = docs.filter("bucket >= 2")
    r = ProgressiveResolver(
        str(tmp_path / "st"), budget=5, df_cap=50, tau=0.05,
        compact_every=2, compact_keep_last=1,
    )
    r.apply_batch(a, 0)
    r.apply_batch(b, 1)
    state = sorted(os.listdir(r.state_root))
    # b0/b1 (previous batch) folded; every current-batch bucket kept
    assert any(d.startswith("compact_v") for d in state), state
    for k in (2, 3, 4, 5):
        assert f"b{k}" in state, state
    first = {tuple(x) for x in r.results(spark).collect()}
    r.apply_batch(b, 1)  # at-least-once redelivery of the whole batch
    assert {tuple(x) for x in r.results(spark).collect()} == first


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


def test_stream_start_conf_sizes_state_stores_and_restores(
    spark, tmp_path, monkeypatch
):
    """stream_start_conf pins shuffle partitions (= the state-store
    instance count a stateful stream bakes into its checkpoint) to
    stream_shuffle_partitions() for the stream's lifetime, restores
    the session value, and — partition invariance — leaves the drained
    RESULT byte-identical to a session-default drain."""
    from pyspark.sql import functions as F

    from streaming_cdc_spark.session import (
        drain_stream,
        stream_start_conf,
        stream_shuffle_partitions,
        write_mtime_pinned_splits,
    )

    def df(rows):
        return spark.createDataFrame(rows, "k string, v long")

    write_mtime_pinned_splits(
        [df([("a", 1), ("b", 2)]), df([("a", 3), ("c", 4)])],
        str(tmp_path / "src"),
    )

    def agg_stream():
        s = (
            spark.readStream.schema("k string, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "src" / "split_*") + "/*.parquet")
        )
        return s.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))

    before = spark.conf.get("spark.sql.shuffle.partitions")

    # 1) the shared drain path captures the reduced count and restores:
    #    hand-start inside the manager to read stateOperators metrics.
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", "2")
    assert stream_shuffle_partitions() == 2
    ckpt = str(tmp_path / "ckpt1")
    with stream_start_conf(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
        q = (
            agg_stream()
            .writeStream.format("memory")
            .queryName("ssc_probe")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    # restored immediately after start(), while the stream still runs
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    q.awaitTermination()
    st = (q.recentProgress[-1].get("stateOperators") or [{}])[0]
    assert st.get("numShufflePartitions") == 2, st
    got_small = sorted(map(tuple, spark.table("ssc_probe").collect()))
    spark.catalog.dropTempView("ssc_probe")

    # 2) restore on exception inside the with-block
    try:
        with stream_start_conf(spark):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    # 3) result equality vs a session-default drain (env cleared ->
    #    default 4; different store count, same rows)
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE")
    assert stream_shuffle_partitions() == 4
    got_default = sorted(
        map(
            tuple,
            drain_stream(agg_stream(), "ssc_eq", output_mode="complete").collect(),
        )
    )
    assert got_small == got_default == [("a", 2, 4), ("b", 1, 2), ("c", 1, 4)]


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
    other module under streaming_cdc_spark/ may hand-roll one."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "streaming_cdc_spark"
    hits = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if "writeStream" in p.read_text() or "stream_start_conf(" in p.read_text()
    )
    assert hits == ["session.py"]
