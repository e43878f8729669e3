"""CDC change-log apply: last-writer-wins semantics, tombstones,
out-of-order delivery, and streaming-twin equality with replay."""

import json
import time

import pytest
from pyspark.sql import functions as F

from streaming_cdc_spark.operators.changelog import apply_changelog, latest_ops
from streaming_cdc_spark.session import drain_stream
from streaming_cdc_spark.streaming.materialize import MaterializedChangelog

SCHEMA = "k long, seq long, op string, v double"


def _apply(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    out = apply_changelog(df, ["k"], "seq", "op", ["v"])
    return {r["k"]: (r["seq"], r["op"], r["v"]) for r in out.collect()}


def test_last_writer_wins_and_tombstones(spark):
    rows = [
        # k=1: plain I -> U chain, out of order in the list
        (1, 3, "U", 30.0),
        (1, 1, "I", 10.0),
        (1, 2, "U", 20.0),
        # k=2: latest op is a delete -> absent
        (2, 1, "I", 1.0),
        (2, 2, "D", None),
        # k=3: delete then RE-INSERT at a higher seq -> present
        (3, 5, "D", None),
        (3, 7, "I", 70.0),
        # k=4: late update BELOW the delete's seq -> still absent
        (4, 9, "D", None),
        (4, 4, "U", 40.0),
    ]
    got = _apply(spark, rows)
    assert got == {1: (3, "U", 30.0), 3: (7, "I", 70.0)}


def test_latest_ops_keeps_tombstones_and_is_idempotent(spark):
    rows = [(1, 2, "D", None), (1, 1, "I", 1.0), (2, 1, "I", 2.0)]
    df = spark.createDataFrame(rows, SCHEMA)
    last = latest_ops(df, ["k"], "seq", "op", ["v"])
    got = {r["k"]: (r["seq"], r["op"]) for r in last.collect()}
    assert got == {1: (2, "D"), 2: (1, "I")}  # tombstone retained
    again = latest_ops(last, ["k"], "seq", "op", ["v"])
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, last.collect()))


def _drain(spark, tmp_path, batches):
    src = tmp_path / "src"
    src.mkdir(exist_ok=True)
    for i, rs in enumerate(batches):
        (src / f"f{i}.jsonl").write_text(
            "\n".join(
                json.dumps({"k": k, "seq": s, "op": o, "v": v})
                for (k, s, o, v) in rs
            )
        )
        time.sleep(0.05)
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(str(src))
    )
    sink = MaterializedChangelog(
        str(tmp_path / "state"), ["k"], "seq", "op", ["v"]
    )
    drain_stream(stream, sink.apply_batch)
    return sink


def test_streaming_twin_equals_batch_apply(spark, tmp_path):
    batches = [
        [(1, 4, "U", 44.0), (2, 9, "D", None), (3, 2, "I", 3.0)],
        # late low-seq ops UNDER already-applied state, incl. a late
        # update below k=2's tombstone — must NOT resurrect the key
        [(1, 1, "I", 11.0), (2, 5, "U", 55.0)],
        [(3, 6, "D", None), (4, 1, "I", 4.0)],
        # re-insert k=3 above its tombstone
        [(3, 8, "I", 88.0)],
    ]
    sink = _drain(spark, tmp_path, batches)
    got = {
        r["k"]: (r["seq"], r["op"], r["v"])
        for r in sink.current_state(spark).collect()
    }
    flat = [r for b in batches for r in b]
    want = _apply(spark, flat)
    assert got == want == {
        1: (4, "U", 44.0),
        3: (8, "I", 88.0),
        4: (1, "I", 4.0),
    }
    # tombstones live in the raw state table even though k=2 is absent
    raw = {r["k"]: r["op"] for r in sink.table(spark).collect()}
    assert raw[2] == "D"


def test_replayed_batch_is_skipped(spark, tmp_path):
    sink = MaterializedChangelog(str(tmp_path / "st"), ["k"], "seq", "op", ["v"])
    b0 = spark.createDataFrame([(1, 1, "I", 1.0)], SCHEMA)
    b1 = spark.createDataFrame([(1, 2, "U", 2.0)], SCHEMA)
    sink.apply_batch(b0, 0)
    sink.apply_batch(b1, 1)
    before = sink.pointer.read()
    sink.apply_batch(b1, 1)  # at-least-once redelivery: no new version
    assert sink.pointer.read() == before == {"version": 1, "last_batch": 1}
    got = {r["k"]: (r["seq"], r["v"]) for r in sink.current_state(spark).collect()}
    assert got == {1: (2, 2.0)}


@pytest.mark.parametrize("n_parts", [1, 5])
def test_partitioning_invariance(spark, n_parts):
    """The apply is one keyed argmax — any input partitioning gives
    the same state (the 100x-scale property the invariance gate
    checks registry-wide)."""
    rows = [(i % 7, i, "D" if i % 11 == 0 else "U", float(i)) for i in range(200)]
    df = spark.createDataFrame(rows, SCHEMA).repartition(n_parts)
    out = apply_changelog(df, ["k"], "seq", "op", ["v"])
    got = sorted(map(tuple, out.collect()))
    want = [
        (k, max(s for kk, s, _, _ in rows if kk == k), "U",
         float(max(s for kk, s, _, _ in rows if kk == k)))
        for k in range(7)
        if max(s for kk, s, _, _ in rows if kk == k) % 11 != 0
    ]
    assert got == sorted(want)


def test_snapshot_diff_ops_and_null_safety(spark):
    from streaming_cdc_spark.operators.changelog import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None), (4, 40.0)], "k long, v double"
    )
    new = spark.createDataFrame(
        [(1, 10.0), (2, 25.0), (3, 30.0), (5, 50.0)], "k long, v double"
    )
    got = {r["k"]: (r["op"], r["v"]) for r in
           snapshot_diff(old, new, ["k"], ["v"]).collect()}
    # k=1 unchanged -> absent; k=3 NULL -> 30.0 is a real UPDATE
    # (null-safe compare), not an insert; k=4 deleted with NULL payload
    assert got == {2: ("U", 25.0), 3: ("U", 30.0),
                   4: ("D", None), 5: ("I", 50.0)}


def test_snapshot_diff_roundtrip_reconstructs_new(spark):
    """Applying the captured diff onto the old snapshot reproduces the
    new snapshot exactly — capture and apply are inverses."""
    from pyspark.sql import functions as F

    from streaming_cdc_spark.operators.changelog import snapshot_diff

    old = spark.createDataFrame(
        [(i, float(i), f"t{i % 3}") for i in range(40)], "k long, v double, t string"
    )
    new = spark.createDataFrame(
        [(i, float(i if i % 5 else -i), f"t{i % 4}") for i in range(7, 52)],
        "k long, v double, t string",
    )
    diff = snapshot_diff(old, new, ["k"], ["v", "t"])
    touched = diff.select("k")
    rebuilt = (
        old.join(touched, "k", "left_anti")  # untouched keys carry over
        .unionByName(
            diff.filter(F.col("op") != "D").select("k", "v", "t")
        )
    )
    assert sorted(map(tuple, rebuilt.collect())) == sorted(map(tuple, new.collect()))


def test_apply_changelog_composite_key(spark):
    rows = [
        (1, "x", 1, "I", 1.0),
        (1, "x", 3, "D", None),
        (1, "y", 2, "I", 5.0),   # same first key part, different second
        (2, "x", 9, "U", 9.0),
    ]
    df = spark.createDataFrame(rows, "k1 long, k2 string, seq long, op string, v double")
    out = apply_changelog(df, ["k1", "k2"], "seq", "op", ["v"])
    got = {(r["k1"], r["k2"]): (r["seq"], r["v"]) for r in out.collect()}
    assert got == {(1, "y"): (2, 5.0), (2, "x"): (9, 9.0)}


def test_apply_changelog_evolving(spark):
    """Schema evolution: a v1 key UPDATED BY a v2 op takes the v2
    payload (and vice versa); fields absent from the winning version
    back-fill NULL; payload strings try_cast into the widened union
    type; malformed values yield NULL, not a job failure (ANSI);
    tombstones still win."""
    from streaming_cdc_spark.operators.changelog import apply_changelog_evolving

    rows = [
        # k=1: v1 insert then v2 update -> v2 wins, etype present
        (1, 1, "I", 1, {"cents": "100"}),
        (1, 2, "U", 2, {"cents": "250", "etype": "click"}),
        # k=2: v2 insert then v1 update -> v1 wins, etype back-fills NULL
        (2, 1, "I", 2, {"cents": "300", "etype": "view"}),
        (2, 2, "U", 1, {"cents": "410"}),
        # k=3: widening — v1 value exceeds INT range, lands in BIGINT
        (3, 1, "I", 1, {"cents": "9999999999"}),
        # k=4: malformed payload value -> NULL via try_cast, row survives
        (4, 1, "I", 2, {"cents": "not-a-number", "etype": "buy"}),
        # k=5: latest op is a delete -> absent regardless of version
        (5, 1, "I", 2, {"cents": "7", "etype": "x"}),
        (5, 2, "D", 2, {}),
    ]
    df = spark.createDataFrame(
        rows, "k long, seq long, op string, ver int, payload map<string,string>"
    )
    out = apply_changelog_evolving(
        df, ["k"], "seq", "op", "ver", "payload",
        columns={"cents": "bigint", "etype": "string"},
    )
    got = {r["k"]: (r["seq"], r["ver"], r["cents"], r["etype"]) for r in out.collect()}
    assert got == {
        1: (2, 2, 250, "click"),
        2: (2, 1, 410, None),
        3: (1, 1, 9999999999, None),
        4: (1, 2, None, "buy"),
    }


def test_changelog_deltas_telescope_to_state(spark):
    """Per key, summed deltas equal the live last value / liveness bit
    exactly (decimal telescoping) — deletes, re-inserts, leading
    updates and tombstones-of-nonexistent-keys included."""
    from streaming_cdc_spark.operators.changelog import (
        apply_changelog,
        changelog_deltas,
    )

    rows = [
        (1, 1, "I", 10.0), (1, 2, "U", 25.5), (1, 3, "D", None),
        (2, 1, "I", 7.25), (2, 4, "D", None), (2, 6, "I", 3.75),
        (3, 2, "U", 5.0),             # leading update (upsert)
        (4, 9, "D", None),            # delete of a never-seen key
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    d = changelog_deltas(df, ["k"], "seq", "op", "v")
    got = {
        r["k"]: (r["live"], float(r["sv"]))
        for r in d.groupBy("k")
        .agg(F.sum("delta_live").alias("live"), F.sum("delta_value").alias("sv"))
        .collect()
    }
    assert got == {1: (0, 0.0), 2: (1, 3.75), 3: (1, 5.0), 4: (0, 0.0)}
    # consistency with the state operator
    state = {r["k"]: r["v"] for r in apply_changelog(df, ["k"], "seq", "op", ["v"]).collect()}
    assert state == {2: 3.75, 3: 5.0}


def test_changelog_deltas_null_value_upsert_is_live(spark):
    """ADVICE r5: an I/U carrying a NULL payload is a LIVE key (its
    COUNT contribution is 1; its SUM contribution is 0, matching SQL
    SUM's NULL-skipping). Liveness must derive from the OP, not value
    non-nullness, or COUNT-over-state recomputes silently diverge."""
    from streaming_cdc_spark.operators.changelog import changelog_deltas

    rows = [
        (1, 1, "I", None),                 # live, NULL value
        (2, 1, "I", 4.0), (2, 2, "U", None),  # update nulls the value
        (3, 1, "I", 2.0), (3, 2, "D", None), (3, 3, "U", None),  # re-live w/ NULL
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    d = changelog_deltas(df, ["k"], "seq", "op", "v")
    got = {
        r["k"]: (r["live"], float(r["sv"]))
        for r in d.groupBy("k")
        .agg(F.sum("delta_live").alias("live"), F.sum("delta_value").alias("sv"))
        .collect()
    }
    # recompute view: COUNT(live keys) / SUM(last values, NULL->0)
    assert got == {1: (1, 0.0), 2: (1, 0.0), 3: (1, 0.0)}


def test_changelog_deltas_banded_equals_single_window(spark):
    """r6 hot-key fix: the banded lag (bounded window partitions +
    band-last fill) must equal the definitional single-window form on
    a log that FORCES band boundaries — band_width=4 with 60 ops per
    key, sparse bands included (some bands empty for some keys)."""
    from streaming_cdc_spark.operators.changelog import changelog_deltas

    rows = [
        (k, s, "D" if (k + s) % 13 == 0 else ("U" if s % 3 else "I"),
         float((k * 7 + s) % 23))
        for k in range(3)
        for s in range(0, 180, 3 + k)  # different seq strides -> sparse bands
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    banded = changelog_deltas(df, ["k"], "seq", "op", "v", band_width=4)
    wide = changelog_deltas(df, ["k"], "seq", "op", "v", band_width=10**9)
    a = {(r["k"], r["seq"]): (float(r["delta_value"]), r["delta_live"])
         for r in banded.collect()}
    b = {(r["k"], r["seq"]): (float(r["delta_value"]), r["delta_live"])
         for r in wide.collect()}
    assert a == b


def test_streaming_ivm_equals_recompute(spark, tmp_path):
    """IVM end-to-end in streaming: per-batch deltas folded through
    the MaterializedAggregate upsert sink (sums are its native
    monoid) equal the view recomputed over final state — across
    out-of-order multi-batch delivery. NOTE: deltas must be computed
    over the FULL log's pre-images; per-batch lag windows would
    derive wrong pre-images, so the delta stream itself is what's
    split into batches (a real CDC feed ships before-images per op,
    making per-batch deltas exact by construction)."""
    import json
    import time

    from streaming_cdc_spark.operators.changelog import (
        apply_changelog,
        changelog_deltas,
    )
    from streaming_cdc_spark.streaming.materialize import MaterializedAggregate

    rows = [(i % 9, i, "D" if i % 13 == 0 else ("I" if i % 3 else "U"),
             float(i % 17)) for i in range(120)]
    log = spark.createDataFrame(rows, SCHEMA)
    deltas = changelog_deltas(log, ["k"], "seq", "op", "v").collect()
    src = tmp_path / "src"
    src.mkdir()
    for b in range(3):
        batch = [r for r in deltas if r["seq"] % 3 == b]
        (src / f"f{b}.jsonl").write_text(
            "\n".join(
                json.dumps({"grp": r["k"] % 3,
                            "dv": float(r["delta_value"]),
                            "dl": r["delta_live"]})
                for r in batch
            )
        )
        time.sleep(0.05)
    stream = (
        spark.readStream.schema("grp long, dv double, dl long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    mat = MaterializedAggregate(str(tmp_path / "st"), ["grp"], ["dv", "dl"])
    drain_stream(stream, mat.apply_batch)
    got = {
        r["grp"]: (float(r["sum_dv"]), int(r["sum_dl"]))
        for r in mat.table(spark).collect()
    }
    state = apply_changelog(log, ["k"], "seq", "op", ["v"])
    want = {
        r["grp"]: (float(r["sv"]), int(r["nl"]))
        for r in state.withColumn("grp", F.col("k") % 3)
        .groupBy("grp")
        .agg(F.sum(F.col("v").cast("decimal(18,2)")).alias("sv"),
             F.count(F.lit(1)).alias("nl"))
        .collect()
    }
    assert got == want


def test_ivm_hotkey_banded_partitions_flat(spark):
    """ivm_hotkey_sums' contract (VERDICT r6 #5): with a planted
    30%-hot key and a forced band_width, (1) the banded result equals
    the definitional single-window form, and (2) NO window partition
    holds more rows than one band can — the hot key is physically
    split across bands, so a 30%-hot 100 TB op-log never funnels into
    one sort task."""
    from streaming_cdc_spark.operators.changelog import changelog_deltas

    n, bw = 5000, 256
    rows = [
        (0 if s % 10 < 3 else (s % 40) + 1, s,
         "D" if s % 17 == 0 else ("U" if s % 17 < 9 else "I"),
         float(s % 97))
        for s in range(n)
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    banded = changelog_deltas(df, ["k"], "seq", "op", "v", band_width=bw)
    wide = changelog_deltas(df, ["k"], "seq", "op", "v", band_width=0)
    a = {(r["k"], r["seq"]): (float(r["delta_value"]), r["delta_live"])
         for r in banded.collect()}
    b = {(r["k"], r["seq"]): (float(r["delta_value"]), r["delta_live"])
         for r in wide.collect()}
    assert a == b
    # flatness: per-(key, band) group sizes are bounded by the band
    # width; the hot key spans many bands instead of one partition
    sizes = (
        df.groupBy("k", F.expr(f"seq div {bw}").alias("band"))
        .count()
        .collect()
    )
    hot_bands = [r["count"] for r in sizes if r["k"] == 0]
    assert len(hot_bands) == n // bw + 1
    assert max(r["count"] for r in sizes) <= bw
    # the hot key really is hot: ~30% of all ops
    assert abs(sum(hot_bands) / n - 0.3) < 0.01


def test_changelog_deltas_target_bands_forces_scaled_banding(spark):
    """target_bands forces the banded physical with a width derived
    from the operator's own planning scalars: results equal the plain
    single-window form, and the seq range actually splits into ~the
    requested band count (the ivm_hotkey_sums dial — a FIXED forced
    width grows bands-per-key with scale; this must not)."""
    from pyspark.sql import functions as F

    from streaming_cdc_spark.operators.changelog import changelog_deltas

    rows = [
        (i % 5, i, "D" if i % 17 == 0 else ("I" if i % 3 == 0 else "U"),
         float(i % 97))
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "k long, seq long, op string, v double")
    forced = changelog_deltas(df, ["k"], "seq", "op", "v", target_bands=8)
    plain = changelog_deltas(df, ["k"], "seq", "op", "v", band_width=0)
    got = {(r["k"], r["seq"]): (r["delta_value"], r["delta_live"])
           for r in forced.collect()}
    want = {(r["k"], r["seq"]): (r["delta_value"], r["delta_live"])
            for r in plain.collect()}
    assert got == want
    # width = range // 8 + 1 = 75 -> 8 bands over seqs 0..599
    assert "_band" not in forced.columns  # internal column projected away
