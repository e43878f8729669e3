"""Custom-state streaming operators (SURVEY §7 step 7: the reference's
streams are positional with no late data; bounded keyed state is the
engine extension a real deployment needs): the sharded Bloom dedup,
the sharded Misra-Gries sketch and the event-time sessionizer. The
built-in watermark operators (windows, dedup, sessions, stream joins)
are written inline in their registered queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_bloom_dedup(
    stream: DataFrame,
    key_col: str = "text",
    id_col: str = "event_id",
    n_bits: int = 1 << 14,
    n_hashes: int = 3,
    n_shards: int = 8,
) -> DataFrame:
    """EXACT-key streaming dedup with BOUNDED probabilistic state: a
    sharded Bloom bitmap instead of one state row per key.

    dropDuplicates' keyed state grows with the number of DISTINCT keys
    ever seen — unbounded on an unbounded stream unless a watermark
    TTL is acceptable. This operator caps state at
    ``n_shards * n_bits / 8`` bytes FOREVER: each key hashes to one
    shard (md5, uniform) and ``n_hashes`` bit positions; the
    per-shard ValueState is the bitmap words. The trade is semantic —
    a fresh key is falsely dropped at the Bloom FP rate (size n_bits
    at ~10 bits per expected distinct key for ~1%), which is the
    right contract for crawl dedup at 100 TB where duplicates are
    legion and an occasional false drop is noise. No key is ever
    emitted twice (no false negatives), including within a batch.

    Hash positions are computed as JVM column expressions BEFORE the
    stateful operator — the Python processor only tests/sets bits.
    Per shard, rows process in ``id_col`` order, so output status is
    deterministic given the micro-batch sequence. Output (append):
    (id_col, shard, status) with status 'fresh' | 'dup'. The ``shard``
    column's metadata declares ``state_shards`` = n_shards, which
    ``session.stream_start_conf`` sizes the stream's state stores by.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from streaming_cdc_spark.functions.hashing import md5_long
    from streaming_cdc_spark.session import ensure_package_on_executors

    ensure_package_on_executors(stream.sparkSession)

    n_words = (n_bits + 63) // 64
    pos_cols = [
        (md5_long(key_col, salt=f"bloom{i}") % n_bits).alias(f"_p{i}")
        for i in range(n_hashes)
    ]
    keyed = stream.select(
        F.col(id_col).cast("long").alias("_id"),
        (md5_long(key_col, salt="shard") % n_shards).cast("long").alias("shard"),
        *pos_cols,
    )

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("shard", LongType(), metadata={"state_shards": n_shards}),
            StructField("status", StringType()),
        ]
    )
    state_schema = StructType([StructField("words", ArrayType(LongType()))])
    pnames = [f"_p{i}" for i in range(n_hashes)]

    def process(key, pdfs, state: GroupState):
        # stored signed (LongType); python int bitwise ops treat the
        # negative values as two's complement, so tests/sets just work
        words = list(state.get[0]) if state.exists else [0] * n_words
        ids, statuses = [], []
        # drain the WHOLE group before sorting: Arrow hands the group
        # as ~10k-row chunks in arbitrary order, and a per-chunk sort
        # would let a later id process first when a shard spans chunks
        # — breaking the global id-order the oracle replays
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values("_id")
            rid_arr = pdf["_id"].to_numpy()
            pos_mat = pdf[pnames].to_numpy()
            for rid, positions in zip(rid_arr, pos_mat):
                hit = all(
                    words[int(p) >> 6] & (1 << (int(p) & 63)) for p in positions
                )
                if not hit:
                    for p in positions:
                        words[int(p) >> 6] |= 1 << (int(p) & 63)
                ids.append(int(rid))
                statuses.append("dup" if hit else "fresh")
        state.update(([w if w < (1 << 63) else w - (1 << 64) for w in words],))
        yield pd.DataFrame(
            {
                id_col: ids,
                "shard": [int(key[0])] * len(ids),
                "status": statuses,
            }
        )

    return keyed.groupBy("shard").applyInPandasWithState(
        process,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_misra_gries(
    stream: DataFrame,
    key_col: str = "key",
    id_col: str = "event_id",
    k: int = 16,
    n_shards: int = 8,
) -> DataFrame:
    """STREAMING heavy-hitter sketch with BOUNDED state: the
    Misra-Gries summary (operators/profile.py: mg_insert) kept as
    sharded ``applyInPandasWithState`` ValueState — each key hashes to
    one shard (md5, uniform), each shard holds at most ``k`` weighted
    counters FOREVER (state is n_shards * k rows, not O(distinct
    keys)), and counters carry across micro-batches, so the sketch
    summarizes the WHOLE stream prefix, not just the current batch.

    Error theorem under sharding: a key lives in exactly one shard,
    and its shard's decrements total at most n_shard/(k+1) <=
    N/(k+1) — the same bound the batch operator satisfies, so the
    streaming and batch forms are interchangeable evidence-wise (the
    cdc_streaming_apply pattern: one oracle, two physicals). Estimates
    remain arrival-order-dependent (any mergeable sketch is); queries
    must surface exact counts + theorem bits only.

    Emits (append mode), after every micro-batch, each updated
    shard's CURRENT counters tagged with a per-shard batch index:
    (shard, batch_idx, key, est). The final summary is the max
    batch_idx row-set per shard. ``shard`` declares ``state_shards``
    as in streaming_bloom_dedup."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from streaming_cdc_spark.functions.hashing import md5_long
    from streaming_cdc_spark.operators.profile import mg_insert
    from streaming_cdc_spark.session import ensure_package_on_executors

    ensure_package_on_executors(stream.sparkSession)
    # NULL keys excluded, matching the batch summary (str(None) would
    # otherwise invent a 'None' key that never joins back)
    keyed = stream.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(key_col).cast("string").alias("_k"),
        (md5_long(key_col, salt="hhshard") % n_shards).cast("long").alias("shard"),
    ).filter(F.col("_k").isNotNull())
    out_schema = StructType(
        [
            StructField("shard", LongType(), metadata={"state_shards": n_shards}),
            StructField("batch_idx", LongType()),
            StructField("key", StringType()),
            StructField("est", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("keys", ArrayType(StringType())),
            StructField("counts", ArrayType(LongType())),
            StructField("batches", LongType()),
        ]
    )

    def process(key, pdfs, state: GroupState):
        if state.exists:
            keys, counts, b = state.get
            d = dict(zip(list(keys), [int(c) for c in counts]))
        else:
            d, b = {}, 0
        # drain the whole group before sorting (the Arrow-chunk-order
        # lesson): process rows in global id order within the batch
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values("_id")
            for kk in pdf["_k"].to_numpy():
                d = mg_insert(d, str(kk), 1, k)
        b += 1
        state.update((list(d.keys()), [int(v) for v in d.values()], b))
        yield pd.DataFrame(
            {
                "shard": [int(key[0])] * len(d),
                "batch_idx": [b] * len(d),
                "key": list(d.keys()),
                "est": [int(v) for v in d.values()],
            }
        )

    return keyed.groupBy("shard").applyInPandasWithState(
        process,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_sessionizer_custom(
    stream: DataFrame,
    gap_us: int = 1_800_000_000,
    watermark: str = "7 days",
    ts_col: str = "ts",
    key_col: str = "user_id",
    id_col: str = "event_id",
) -> DataFrame:
    """CUSTOM-STATE sessionization with EVENT-TIME TIMEOUT — the same
    gap-merge + append-emission semantics as the native
    ``session_window`` aggregation, rebuilt on
    ``applyInPandasWithState`` so the remaining state-API surface
    (GroupStateTimeout.EventTimeTimeout + getCurrentWatermarkMs) has
    a first-class, oracle-checked exercise. Registered under the
    SAME oracle as streaming_sessions_finalized: the driver hash
    match pins custom state machine == native operator (the
    weighted_median_banded twin-evidence pattern).

    Mechanics (mirroring the empirically pinned native rules):
    - state per key = the OPEN sessions as (start_us, end_us, count)
      triples; new events gap-merge at microsecond precision (new
      session iff gap >= gap_us — matching session_window's merge
      over [start, last+gap)).
    - a session emits iff end_us + gap_us <= watermark_us, evaluated
      from GroupState.getCurrentWatermarkMs()*1000 — the same
      ms-truncated watermark the native operator compares window
      ends against (data batches see the PREVIOUS batch's watermark;
      availableNow's closing no-data batch delivers the final one).
    - unexpired sessions set an event-time timeout at their earliest
      expiry MINUS 1 ms (Spark fires timeouts strictly AFTER the
      timestamp while the emission rule is boundary-inclusive;
      setTimeoutTimestamp must still exceed the current watermark,
      so the re-arm clamps to wm+1), so the closing batch re-invokes
      exactly the groups still holding state, with empty input and
      hasTimedOut — where expired sessions flush. Residual 1-ms
      quantization blind spot (inherent to ms-granular timeouts +
      strictly-after firing): see the comment at the re-arm site.

    Arrow hands a group as chunks in arbitrary order: drain ALL
    chunks, concat, sort once by (ts, id) — the r4 per-chunk-sort
    trap."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField(key_col, LongType()),
            StructField("session_start_us", LongType()),
            StructField("n_events", LongType()),
            StructField("session_us", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("starts", ArrayType(LongType())),
            StructField("ends", ArrayType(LongType())),
            StructField("counts", ArrayType(LongType())),
        ]
    )

    def process(key, pdfs, state: GroupState):
        wm_us = state.getCurrentWatermarkMs() * 1000
        sessions = []
        if state.exists:
            starts, ends, counts = state.get
            sessions = [
                [int(s), int(e), int(c)] for s, e, c in zip(starts, ends, counts)
            ]
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(["_tus", "_id"])
            for tus in pdf["_tus"].to_numpy():
                t = int(tus)
                sessions.append([t, t, 1])
        # gap-merge the (start-sorted) interval list: stored open
        # sessions precede this batch's events only if earlier — sort
        # to make the fold order-correct in the general case
        sessions.sort()
        merged = []
        for s, e, c in sessions:
            if merged and s - merged[-1][1] < gap_us:
                merged[-1][1] = max(merged[-1][1], e)
                merged[-1][2] += c
            else:
                merged.append([s, e, c])
        expired = [x for x in merged if x[1] + gap_us <= wm_us]
        live = [x for x in merged if x[1] + gap_us > wm_us]
        if live:
            state.update(
                (
                    [x[0] for x in live],
                    [x[1] for x in live],
                    [x[2] for x in live],
                )
            )
            # Timeout at floor(expiry_ms) - 1, NOT + 1: Spark fires
            # event-time timeouts strictly AFTER the timestamp, and
            # the emission rule is boundary-INCLUSIVE (end + gap <=
            # wm, the empirically pinned native semantics the shared
            # oracle replays) — with +1 a session expiring within
            # ~2ms at/below the final watermark would never get its
            # group re-invoked and silently stay in state (review
            # r7s3). -1 guarantees: emittable (E <= wm_ms*1000 =>
            # floor(E/1000) <= wm_ms => wm_ms > timeout) implies
            # invoked; an early firing just re-arms under the
            # emission guard. Clamped above the current watermark as
            # setTimeoutTimestamp requires.
            #
            # RESIDUAL 1-ms QUANTIZATION BLIND SPOT (inherent to
            # setTimeoutTimestamp > watermark + strictly-after
            # firing, NOT fixable by changing the -1): if a group is
            # invoked at wm == floor(expiry_ms) while still live,
            # the clamp re-arms at wm+1; should the FINAL watermark
            # then advance exactly 1 ms to ceil(expiry/1000), the
            # session is emittable under the boundary-inclusive rule
            # but wm never strictly passes the timeout, so it stays
            # in state. Reachable only with sub-ms event times —
            # whole-second fixtures cannot hit it. Pinned by
            # test_submillisecond_expiry_blind_spot so a fixture
            # regen with sub-ms timestamps fails loudly there.
            timeout_ms = min(x[1] + gap_us for x in live) // 1000 - 1
            state.setTimeoutTimestamp(max(timeout_ms, state.getCurrentWatermarkMs() + 1))
        else:
            state.remove()
        yield pd.DataFrame(
            {
                key_col: pd.array([int(key[0])] * len(expired), dtype="int64"),
                "session_start_us": pd.array(
                    [x[0] for x in expired], dtype="int64"
                ),
                "n_events": pd.array([x[2] for x in expired], dtype="int64"),
                "session_us": pd.array(
                    [x[1] - x[0] for x in expired], dtype="int64"
                ),
            }
        )

    keyed = (
        stream.withWatermark(ts_col, watermark)
        .select(
            F.col(key_col),
            F.col(ts_col),
            F.unix_micros(ts_col).alias("_tus"),
            F.col(id_col).alias("_id"),
        )
    )
    return keyed.groupBy(key_col).applyInPandasWithState(
        process,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
