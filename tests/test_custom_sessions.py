"""streaming_sessionizer_custom: multi-batch state carry-over and
timeout-driven emission must reproduce the single-drain result (the
ep2_streaming_multibatch invariant), and the state machine's merge
must join sessions split across micro-batches."""

import shutil
import tempfile

from pyspark.sql import functions as F

from streaming_cdc_spark.session import (
    drain_stream,
    ensure_package_on_executors,
    write_mtime_pinned_splits,
)
from streaming_cdc_spark.streaming.windows import streaming_sessionizer_custom

SF = "/root/testdata/sf0.001"


def _drain(spark, src_glob):
    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_glob)
    )
    out = streaming_sessionizer_custom(stream)
    return sorted(
        map(
            tuple,
            drain_stream(
                out.select(
                    "user_id", "session_start_us", "n_events", "session_us"
                ),
                "sescs_t",
            ).collect(),
        )
    )


def test_two_batch_equals_single_drain(spark):
    ensure_package_on_executors(spark)
    from streaming_cdc_spark.tables import load

    ev = load(spark, SF, "events").select("event_id", "user_id", "ts")
    mid = ev.agg(F.expr("percentile_approx(unix_micros(ts), 0.5)")).first()[0]
    base1 = tempfile.mkdtemp(prefix="sescs_one_")
    base2 = tempfile.mkdtemp(prefix="sescs_two_")
    try:
        write_mtime_pinned_splits([ev], base1)
        # time-ordered split: batch 0 = first half, batch 1 = rest, so
        # state built in batch 0 must merge/extend with batch-1 events
        write_mtime_pinned_splits(
            [
                ev.filter(F.unix_micros("ts") <= mid),
                ev.filter(F.unix_micros("ts") > mid),
            ],
            base2,
        )
        one = _drain(spark, f"{base1}/split_*/*.parquet")
        two = _drain(spark, f"{base2}/split_*/*.parquet")
        assert len(one) > 0
        assert one == two
    finally:
        shutil.rmtree(base1, ignore_errors=True)
        shutil.rmtree(base2, ignore_errors=True)


def test_cross_batch_session_merges(spark):
    ensure_package_on_executors(spark)
    # one user, two event bursts 10 min apart split ACROSS batches:
    # the state machine must merge them into ONE session (gap < 30
    # min), and a third burst 10 days later both closes it past the
    # watermark and anchors the final watermark.
    t0 = 1_700_000_000_000_000
    rows_a = [(1, 7, t0), (2, 7, t0 + 60_000_000)]
    rows_b = [
        (3, 7, t0 + 660_000_000),  # 10 min after last -> same session
        (4, 7, t0 + 864_000_000_000),  # +10 days: new session, drives wm
    ]
    base = tempfile.mkdtemp(prefix="sescs_merge_")
    try:
        mk = lambda rows: spark.createDataFrame(
            [(i, u, t) for i, u, t in rows], "event_id long, user_id long, tus long"
        ).select("event_id", "user_id", F.timestamp_micros(F.col("tus")).alias("ts"))
        write_mtime_pinned_splits([mk(rows_a), mk(rows_b)], base)
        got = _drain(spark, f"{base}/split_*/*.parquet")
        # final wm = t0 + 10d - 7d; session1 end+30min << wm -> emits;
        # session2 (single event at wm horizon) stays in state
        assert got == [(7, t0, 3, 660_000_000)]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_no_emission_before_watermark_passes(spark):
    ensure_package_on_executors(spark)
    # all events within the 7-day horizon of the max ts: nothing may
    # finalize (native append-mode behavior)
    t0 = 1_700_000_000_000_000
    rows = [(1, 3, t0), (2, 3, t0 + 86_400_000_000)]  # 1 day apart
    base = tempfile.mkdtemp(prefix="sescs_hold_")
    try:
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, tus long"
        ).select("event_id", "user_id", F.timestamp_micros(F.col("tus")).alias("ts"))
        write_mtime_pinned_splits([df], base)
        got = _drain(spark, f"{base}/split_*/*.parquet")
        assert got == []
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_submillisecond_expiry_blind_spot(spark):
    ensure_package_on_executors(spark)
    # PINS the documented residual 1-ms quantization blind spot
    # (streaming/windows.py re-arm comment): with SUB-MS event times,
    # a live group invoked at wm == floor(expiry_ms) re-arms its
    # timeout at wm+1 (the setTimeoutTimestamp > wm clamp); when the
    # final watermark then advances exactly 1 ms to ceil(expiry/1000)
    # the session is emittable under the boundary-inclusive rule but
    # the timeout never fires strictly-after — it silently stays in
    # state. Inherent to ms-granular timeouts; this test exists so a
    # fixture regen with sub-ms timestamps fails HERE with a named
    # cause, not as an opaque oracle hash mismatch.
    gap, delay = 1_800_000_000, 604_800_000_000
    t0 = 1_700_000_000_000_500  # 500 us sub-ms fraction
    expiry = t0 + gap  # ...800_000_500 us; floor_ms = ...800_000
    floor_ms = expiry // 1000
    # batch-1 anchor drives wm@batch2 to exactly floor(expiry_ms) —
    # user 9's batch-1 timeout (floor_ms - 1) fires there, live,
    # re-arms at wm+1 = floor_ms+1. batch-2's anchor drives the
    # FINAL watermark (availableNow's closing no-data batch) to
    # exactly ceil(expiry_ms) = floor_ms+1 == the re-armed timeout,
    # which never fires strictly-after.
    a1 = floor_ms * 1000 + delay
    a2 = (floor_ms + 1) * 1000 + delay
    rows_b1 = [(1, 9, t0), (2, 8, a1)]
    rows_b2 = [(3, 8, a2)]  # merges into user-8's open session
    base = tempfile.mkdtemp(prefix="sescs_subms_")
    try:
        mk = lambda rows: spark.createDataFrame(
            rows, "event_id long, user_id long, tus long"
        ).select("event_id", "user_id", F.timestamp_micros(F.col("tus")).alias("ts"))
        write_mtime_pinned_splits([mk(rows_b1), mk(rows_b2)], base)
        got = _drain(spark, f"{base}/split_*/*.parquet")
        # CURRENT behavior: user 9's session (emittable at the final
        # watermark) is stuck in state -> nothing emits. If Spark or
        # the re-arm rule ever changes, this assertion names it.
        assert got == []
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_expiry_exactly_at_watermark_emits(spark):
    ensure_package_on_executors(spark)
    # boundary-INCLUSIVE emission (end + gap <= wm, the pinned native
    # rule): user 9's session expires EXACTLY at the final watermark.
    # The +1ms timeout form missed this group entirely (review r7s3);
    # the -1ms form fires it and the guard emits on equality.
    t0 = 1_700_000_000_000_000
    gap, delay = 1_800_000_000, 604_800_000_000
    anchor = t0 + gap + delay  # final wm = anchor - delay = t0 + gap
    rows = [(1, 9, t0), (2, 8, anchor)]
    base = tempfile.mkdtemp(prefix="sescs_bnd_")
    try:
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, tus long"
        ).select("event_id", "user_id", F.timestamp_micros(F.col("tus")).alias("ts"))
        write_mtime_pinned_splits([df], base)
        got = _drain(spark, f"{base}/split_*/*.parquet")
        assert got == [(9, t0, 1, 0)]
    finally:
        shutil.rmtree(base, ignore_errors=True)
