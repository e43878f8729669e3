"""Temporal queries: as-of join (DuckDB ASOF JOIN oracle) and
hypertable-style time-bucket rollups."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_cdc_spark.operators.temporal import asof_join, time_bucket_rollup
from streaming_cdc_spark.queries.registry import query
from streaming_cdc_spark.tables import load
from streaming_cdc_spark.session import drain_stream, id_range_splits, replay_stream

# Orders are 1995-2001; shift +27 years so they interleave with the
# 2024-01 event stream and the as-of target varies per event.
_SHIFT = "INTERVAL 27 YEAR"


@query(
    "asof_join_orders",
    oracle=f"""
    WITH r AS (
        SELECT o_custkey AS user_id, o_orderdate + {_SHIFT} AS t,
               o_totalprice, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
        FROM orders WHERE o_custkey < 150
    ),
    rd AS (SELECT user_id, t, o_totalprice, o_orderkey FROM r WHERE rn = 1)
    SELECT e.event_id, e.user_id, rd.o_totalprice AS last_order_price,
           rd.o_orderkey AS last_order_key
    FROM (SELECT event_id, user_id, ts FROM events WHERE user_id < 50) e
    ASOF JOIN rd ON e.user_id = rd.user_id AND e.ts >= rd.t
    """,
)
def asof_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks the most recent prior order of the
    same customer — union+window implementation (one shuffle), checked
    against DuckDB's native ASOF JOIN."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 50).select(
        "event_id", "user_id", "ts"
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 150)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.expr(f"o_orderdate + {_SHIFT}").alias("shifted_date"),
            F.col("o_totalprice"),
            F.col("o_orderkey"),
        )
    )
    out = asof_join(
        ev,
        orders,
        key="user_id",
        left_ts="ts",
        right_ts="shifted_date",
        payload_cols=["o_totalprice", "o_orderkey"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("o_totalprice").alias("last_order_price"),
        F.col("o_orderkey").alias("last_order_key"),
    )


@query(
    "cohort_retention",
    oracle="""
    WITH shifted AS (
      SELECT user_id, ts + to_months(CAST(event_id % 5 AS INTEGER)) AS ts2
      FROM events
    ),
    m AS (
      SELECT user_id, (year(ts2) * 12 + month(ts2)) AS ym FROM shifted
    ),
    c AS (SELECT user_id, MIN(ym) AS cohort_ym FROM m GROUP BY user_id),
    act AS (SELECT DISTINCT m.user_id, c.cohort_ym,
                   m.ym - c.cohort_ym AS k
            FROM m JOIN c ON m.user_id = c.user_id),
    sz AS (SELECT cohort_ym, COUNT(*) AS n_cohort FROM c GROUP BY cohort_ym)
    SELECT concat(CAST((act.cohort_ym - 1) // 12 AS VARCHAR), '-',
                  lpad(CAST((act.cohort_ym - 1) % 12 + 1 AS VARCHAR), 2, '0'))
             AS cohort_month,
           CAST(act.k AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(MAX(sz.n_cohort) AS BIGINT) AS n_cohort,
           ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(MAX(sz.n_cohort) AS DOUBLE), 6)
             AS retention_r
    FROM act JOIN sz ON act.cohort_ym = sz.cohort_ym
    GROUP BY act.cohort_ym, act.k
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT RETENTION matrix — the classic product-analytics query:
    cohort = each user's first active month, cell (cohort, k) = how
    many of that cohort were active k months later, plus the rate.
    Month arithmetic is ALL-INTEGER (ym = year*12 + month; k = ym
    difference) — months_between() returns engine-varying floats, and
    calendar-string columns are emitted as strings per the DATE
    fetch-path rule. Physical: one keyed MIN (cohort), one distinct
    (user, cohort, k) collapse, one small (cohort) size join — three
    shuffles on narrow keys, all linear; the retention rate is one
    double division of exact BIGINTs."""
    ev = load(spark, sf_dir, "events")
    # the events fixture is a single calendar month — spread activity
    # deterministically (event_id % 5 month shift, mirrored in the
    # oracle) so cohorts and k > 0 cells are actually exercised
    ts2 = F.add_months("ts", (F.col("event_id") % 5).cast("int"))
    m = ev.select(
        "user_id", (F.year(ts2) * 12 + F.month(ts2)).alias("ym")
    )
    c = m.groupBy("user_id").agg(F.min("ym").alias("cohort_ym"))
    act = (
        m.join(c, "user_id")
        .select("user_id", "cohort_ym", (F.col("ym") - F.col("cohort_ym")).alias("k"))
        .distinct()
    )
    sz = c.groupBy("cohort_ym").agg(F.count(F.lit(1)).alias("n_cohort"))
    g = act.join(sz, "cohort_ym").groupBy("cohort_ym", "k").agg(
        F.count(F.lit(1)).cast("long").alias("n_active"),
        F.max("n_cohort").cast("long").alias("n_cohort"),
    )
    cohort_month = F.concat(
        F.expr("(cohort_ym - 1) div 12").cast("string"),
        F.lit("-"),
        F.lpad(((F.col("cohort_ym") - 1) % 12 + 1).cast("string"), 2, "0"),
    )
    return g.select(
        cohort_month.alias("cohort_month"),
        F.col("k").cast("long").alias("k"),
        "n_active",
        "n_cohort",
        F.round(
            F.col("n_active").cast("double") / F.col("n_cohort").cast("double"), 6
        ).alias("retention_r"),
    )


@query(
    "hourly_daily_rollup",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS bucket, event_type,
               COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS s
        FROM events GROUP BY 1, 2
    )
    SELECT CAST(date_trunc('day', bucket) AS TIMESTAMP) AS bucket, event_type,
           CAST(SUM(n) AS BIGINT) AS n,
           ROUND(CAST(SUM(s) AS DOUBLE), 2) AS sum_value
    FROM hourly GROUP BY 1, 2
    """,
)
def hourly_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: daily totals derived by
    re-aggregating the hourly rollup (never rescanning raw events)."""
    ev = load(spark, sf_dir, "events")
    _, daily = time_bucket_rollup(ev, "ts", "event_type", "value")
    return daily.select(
        F.col("bucket").cast("timestamp").alias("bucket"), "event_type", "n", "sum_value"
    )


@query(
    "user_sessions",
    oracle="""
    WITH o AS (SELECT user_id, event_id, ts,
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
               FROM events),
    f AS (SELECT user_id, event_id, ts,
                 CASE WHEN prev IS NULL OR date_diff('second', prev, ts) > 1800
                      THEN 1 ELSE 0 END AS new_s
          FROM o),
    s AS (SELECT user_id, ts,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM f)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
           date_diff('second', MIN(ts), MAX(ts)) AS session_seconds
    FROM s GROUP BY user_id, session_id
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap) summarized per
    session: event count and duration. Key-partitioned windows only —
    the work distributes across users."""
    from streaming_cdc_spark.operators.temporal import sessionize

    ev = load(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap_seconds=1800, order_cols=["ts", "event_id"])
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ts").cast("long") - F.min("ts").cast("long")).alias("session_seconds"),
    )


@query(
    "trailing_7d_value",
    oracle="""
    SELECT event_id,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
               RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS v7d,
           COUNT(*) OVER (
               PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
               RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS n7d
    FROM events WHERE user_id < 20
    """,
)
def trailing_7d_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day per-user rolling aggregate — a RANGE-framed
    event-time window (every event sees the decimal-exact sum and
    count of its user's prior week). BOTH engines frame over
    whole-second epochs (Spark casts ts to long = floor(epoch);
    DuckDB orders by floor(epoch(ts))) — framing raw timestamps on
    one side and truncated seconds on the other would diverge on
    sub-second components. Keyed windows distribute across users."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-7 * 86400, 0)
    )
    return ev.select(
        "event_id",
        F.round(F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double"), 2).alias("v7d"),
        F.count(F.lit(1)).over(w).alias("n7d"),
    )


@query(
    "robust_outliers",
    oracle="""
    WITH med AS (SELECT event_type, ROUND(CAST(quantile_cont(value, 0.5) AS DOUBLE), 6) AS med_r
                 FROM events GROUP BY event_type),
    dev AS (SELECT e.event_type, abs(e.value - m.med_r) AS d, m.med_r
            FROM events e JOIN med m USING (event_type)),
    mad AS (SELECT event_type, ROUND(CAST(quantile_cont(d, 0.5) AS DOUBLE), 6) AS mad_r
            FROM dev GROUP BY event_type)
    SELECT d.event_type, d.med_r, m.mad_r,
           CAST(SUM(CASE WHEN d.d > 3 * 1.4826 * m.mad_r THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type, d.med_r, m.mad_r
    """,
)
def robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier detection per event type — the robust
    alternative to z-scores (immune to the outliers it hunts). Both
    pivots are ROUNDED to 6dp before any downstream math, so the
    engines' quantile-interpolation bit differences cannot flip a
    threshold comparison. Two keyed aggregations + two broadcast
    joins; nothing global."""
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med_r")
    )
    # LAZY lineage cut (optimization r9 residual sweep): dev is
    # referenced twice (mad + the final aggregate) — without the cut
    # the events scan, the median aggregate AND the broadcast join
    # all re-run per reference (4 scans in the before-plan). Lazy, so
    # the final action materializes the narrow rows once.
    dev = (
        ev.select("event_type", "value")
        .join(F.broadcast(med), "event_type")
        .withColumn("d", F.abs(F.col("value") - F.col("med_r")))
        .localCheckpoint(eager=False)
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("d", F.lit(0.5)), 6).alias("mad_r")
    )
    j = dev.join(F.broadcast(mad), "event_type")
    return j.groupBy("event_type", "med_r", "mad_r").agg(
        F.sum(
            F.when(F.col("d") > 3 * 1.4826 * F.col("mad_r"), 1).otherwise(0)
        ).cast("long").alias("n_outliers")
    )


@query(
    "scd2_user_value",
    oracle="""
    SELECT user_id,
           epoch_us(ts) AS valid_from_us,
           COALESCE(epoch_us(LEAD(ts) OVER w), 253402214400000000) AS valid_to_us,
           ROUND(value, 2) AS value_r,
           (LEAD(ts) OVER w IS NULL) AS is_current
    FROM events WHERE user_id < 20
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 from an event stream: each
    event opens a version valid [ts, next_ts) per user; the latest
    version stays open (is_current). The CDC-materialization step a
    warehouse runs over change streams — one keyed window, no global
    sort. Validity bounds as exact epoch microseconds (unix_micros /
    epoch_us) so both engines compare integers, not rendered
    timestamps; the open version closes at the 9999-12-31 sentinel
    (a NULL bound would fetch as pandas float64 on the DuckDB side —
    the audit_types hazard)."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.unix_micros("ts").alias("valid_from_us"),
        F.coalesce(F.unix_micros(nxt), F.lit(253402214400000000)).alias(
            "valid_to_us"
        ),
        F.round("value", 2).alias("value_r"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "materialized_user_value",
    oracle="""
    SELECT user_id, COUNT(*) AS n_rows,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value_r
    FROM events GROUP BY user_id
    """,
)
def materialized_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-CDC materialized aggregate end to end: the events
    table replayed as a file stream -> foreachBatch UPSERT into a
    versioned parquet table (streaming/materialize.py: partial
    aggregate per batch, keyed merge, atomic pointer flip, replayed
    batches skipped) -> read the committed table back. Full oracle:
    counts and DECIMAL sums merge order-free, so the drained table
    equals the batch GROUP BY bit-for-bit. Multi-batch replay safety
    is pinned by tests/test_materialize.py."""
    import shutil
    import tempfile

    from streaming_cdc_spark.streaming.materialize import MaterializedAggregate

    stream = (
        spark.readStream.schema("event_id long, user_id long, value double")
        .parquet(f"{sf_dir}/events*.parquet")
        .select("user_id", "value")
    )
    state_dir = tempfile.mkdtemp(prefix="matagg_state_")
    mat = MaterializedAggregate(state_dir, ["user_id"], ["value"])
    try:
        drain_stream(stream, mat.apply_batch)
        # pin the (one row per user) result off the state table so the
        # state dir can be deleted NOW — without this the returned plan
        # lazily re-reads the leaked state dir and bench/gate runs
        # accumulate dirs for the process lifetime (ADVICE r3)
        return (
            mat.table(spark)
            .select(
                "user_id",
                F.col("n_rows").alias("n_rows"),
                F.round(F.col("sum_value").cast("double"), 2).alias("sum_value_r"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


@query(
    "user_series_similarity",
    oracle="""
    WITH hourly AS (
        SELECT user_id, EXTRACT(hour FROM ts) AS h,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s
        FROM events WHERE user_id < 30 GROUP BY 1, 2),
    series AS (
        SELECT user_id,
               [COALESCE(MAX(CASE WHEN h = 0 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 1 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 2 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 3 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 4 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 5 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 6 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 7 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 8 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 9 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 10 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 11 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 12 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 13 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 14 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 15 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 16 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 17 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 18 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 19 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 20 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 21 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 22 THEN s END), 0.0),
                COALESCE(MAX(CASE WHEN h = 23 THEN s END), 0.0)] AS v
        FROM hourly GROUP BY user_id)
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim_r
    FROM series a JOIN series b ON a.user_id < b.user_id
    """,
)
def user_series_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search (distributed streaming-series
    search; see PAPERS.md): each user's activity becomes a fixed
    24-dim hour-of-day value profile (exact DECIMAL sums per cell, so
    the vectors replay bit-for-bit), compared pairwise by cosine.
    The profile build is one keyed aggregation (24 conditional sums —
    no pivot shuffle, no collect_list order hazard); the pair join is
    the small-side self-join over users, with the LSH/IVF paths as
    the corpus-scale alternative (same vectors, same kernels)."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    hourly_sum = [
        F.coalesce(
            F.sum(
                F.when(
                    F.hour("ts") == h, F.col("value").cast("decimal(18,2)")
                )
            ).cast("double"),
            F.lit(0.0),
        ).alias(f"_h{h}")
        for h in range(24)
    ]
    series = (
        ev.groupBy("user_id")
        .agg(*hourly_sum)
        .select("user_id", F.array(*[f"_h{h}" for h in range(24)]).alias("v"))
    )
    from streaming_cdc_spark.functions.vectors import cosine

    a = series.select(F.col("user_id").alias("user_a"), F.col("v").alias("_va"))
    b = series.select(F.col("user_id").alias("user_b"), F.col("v").alias("_vb"))
    return (
        a.join(b, F.col("user_a") < F.col("user_b"))
        .select(
            "user_a",
            "user_b",
            F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("sim_r"),
        )
    )


@query(
    "watermarked_daily_counts",
    oracle="""
    WITH e AS (SELECT event_id, ts, value, CAST(event_id % 4 AS INT) AS bk
               FROM events),
    -- Spark's watermark for batch k derives from event-time stats
    -- through batch k-2 (the stats a batch collects feed the
    -- watermark COMPUTED at its end, which takes effect at the START
    -- of the batch after next) -- pinned empirically; lag-1 replay
    -- drops twice too much
    pm AS (SELECT k.k, MAX(e.ts) - INTERVAL 7 DAY AS wm
           FROM (SELECT UNNEST([1, 2, 3]) AS k) k
           JOIN e ON e.bk < k.k - 1 GROUP BY 1),
    kept AS (SELECT e.* FROM e LEFT JOIN pm ON pm.k = e.bk
             WHERE pm.wm IS NULL
                OR CAST(date_trunc('day', e.ts) AS TIMESTAMP)
                   + INTERVAL 1 DAY > pm.wm),
    -- availableNow runs a final no-data batch that commits the
    -- watermark over ALL batches; append mode emits exactly the
    -- windows that watermark has passed
    fw AS (SELECT MAX(ts) - INTERVAL 7 DAY AS wm FROM e)
    SELECT strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_value_r
    FROM kept
    WHERE CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY
          <= (SELECT wm FROM fw)
    GROUP BY 1
    """,
)
def watermarked_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked event-time aggregation with REAL late data, under a
    FULL oracle: events stream in four round-robin batches
    (event_id % 4 -- each spans the whole month, so batches 1-3
    deliver heavily late rows), a 7-day watermark drops late rows
    whose 1-day tumbling window has been finalized, and append mode
    emits exactly the windows the final watermark passed. The oracle
    replays BOTH core Structured Streaming semantics relationally:
    the drop rule (window_end > watermark-in-effect, where batch k's
    watermark derives from event-time stats through batch k-2 -- the
    one-trigger publication lag, pinned empirically: a lag-1 replay
    drops 2x too much) and the append-emission rule (window_end <=
    final watermark, advanced over all batches by availableNow's
    closing no-data batch). Batch membership is a pure function of
    event_id, so the entire run is deterministic. Boundary hazard is
    measure-zero: watermarks carry microsecond offsets, window ends
    are day-aligned. DECIMAL money sums per the registry rules."""
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "value")
    stream = replay_stream(
        spark,
        ("wm", sf_dir),
        lambda: [ev.filter(F.col("event_id") % 4 == i) for i in range(4)],
    )
    agg = (
        stream.withWatermark("ts", "7 days")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("_sv"),
        )
    )
    return drain_stream(agg, "wmdc").select(
        F.date_format("w.start", "yyyy-MM-dd").alias("day"),
        "n_events",
        F.round(F.col("_sv").cast("double"), 2).alias("sum_value_r"),
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t2
           FROM events e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t1
             AND e.ts <= s1.t1 + INTERVAL 7 DAY
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t3
           FROM events e JOIN s2 ON e.user_id = s2.user_id
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2
             AND e.ts <= s1.t1 + INTERVAL 7 DAY
           GROUP BY e.user_id)
    SELECT * FROM (
        SELECT 1 AS step, 'view' AS step_name, COUNT(*) AS n_users FROM s1
        UNION ALL
        SELECT 2, 'click', COUNT(*) FROM s2
        UNION ALL
        SELECT 3, 'purchase', COUNT(*) FROM s3
    )
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase, each step
    strictly after the previous and within 7 days of the user's FIRST
    view): the event-correlation query every product-analytics
    warehouse runs on a change stream. Three chained keyed MIN
    aggregations + key joins — each stage's candidate set shrinks, no
    windows, no per-user sort, so the plan is three shuffles on
    user_id regardless of stream volume. Counts are exact integers."""
    ev = load(spark, sf_dir, "events")
    # each stage is referenced by the next stage AND its own count
    # branch of the union — checkpoint so events isn't re-scanned and
    # re-aggregated per reference (the r4 recompute trap)
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint()
    )
    deadline = F.col("t1") + F.expr("INTERVAL 7 DAY")
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= deadline))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
        .localCheckpoint()
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= deadline))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    def _count(df, step, name):
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(step).cast("int").alias("step"),
            F.lit(name).alias("step_name"),
            "n_users",
        )

    return _count(s1, 1, "view").unionByName(_count(s2, 2, "click")).unionByName(
        _count(s3, 3, "purchase")
    )


@query(
    "hourly_ffill_series",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS tus, max_by(value, event_id) AS v
      FROM events GROUP BY user_id, epoch_us(ts)
    ),
    b AS (SELECT user_id, MIN(tus) // 14400000000 AS lo,
                 MAX(tus) // 14400000000 AS hi
          FROM e GROUP BY user_id),
    grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS slot FROM b)
    SELECT g.user_id, g.slot, ROUND(e.v, 2) AS value_ffill
    FROM grid g ASOF LEFT JOIN e
      ON g.user_id = e.user_id AND e.tus <= g.slot * 14400000000
    """,
)
def hourly_ffill_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 4-hour-grid LOCF resampling (the gap-fill before any
    per-entity time-series model): dedup to one observation per
    instant (max_by event_id — same rule both engines), per-user slot
    range, sequence-exploded grid, and ONE ordered window carrying
    the latest observation across the union of markers and
    observations. The oracle is an independent formulation — DuckDB's
    native ASOF LEFT JOIN — so the hash match proves the union+window
    LOCF equals true as-of semantics, boundary ties and
    leading-NULL slots included. Slots are integers (epoch_us div
    freq); calendar strings are a fetch-path hazard."""
    from streaming_cdc_spark.operators.temporal import resample_locf

    events = load(spark, sf_dir, "events")
    return resample_locf(events, freq_us=14_400_000_000)


# Shared by streaming_sessions_finalized (native session_window) and
# streaming_sessions_custom_state (applyInPandasWithState +
# EventTimeTimeout): one oracle, two physicals — the driver hash
# match pins custom state machine == native operator.
_SESSIONS_ORACLE = """
    WITH o AS (SELECT user_id, event_id, ts,
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
               FROM events),
    f AS (SELECT user_id, event_id, ts,
                 CASE WHEN prev IS NULL
                      OR epoch_us(ts) - epoch_us(prev) >= 1800000000
                      THEN 1 ELSE 0 END AS new_s
          FROM o),
    s AS (SELECT user_id, ts,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM f),
    g AS (SELECT user_id, MIN(ts) AS st, MAX(ts) AS en,
                 COUNT(*) AS n_events
          FROM s GROUP BY user_id, sid),
    wm AS (SELECT MAX(ts) - INTERVAL 7 DAY AS w FROM events)
    SELECT user_id, epoch_us(st) AS session_start_us,
           CAST(n_events AS BIGINT) AS n_events,
           epoch_us(en) - epoch_us(st) AS session_us
    FROM g, wm WHERE en + INTERVAL 30 MINUTE <= w
    """


def _ses_stream(spark: SparkSession, sf_dir: str):
    """The events as ONE micro-batch: one builder for both sessions
    queries, which share its replay dir."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return replay_stream(spark, ("ses", sf_dir), lambda: [ev])


@query("streaming_sessions_finalized", oracle=_SESSIONS_ORACLE)
def streaming_sessions_finalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming SESSION WINDOWS under a FULL oracle: events
    drained through `session_window(ts, 30 min)` + a 7-day watermark
    in append mode — the oracle replays BOTH semantics relationally:
    (1) gap-merge at MICROSECOND precision (new session iff the gap
    >= 30 min in epoch micros — Spark merges strictly inside
    [start, last+gap), and a seconds-truncating date_diff would
    misclassify gaps in (1800s, 1801s)), and (2) the append-emission
    rule pinned empirically: a session emits iff its window end
    (last event + gap) <= the final watermark advanced by
    availableNow's closing no-data batch — sessions still inside the
    lateness horizon stay in state. Complements
    watermarked_daily_counts (tumbling) with the MERGING window kind,
    whose state is per-(user, session), not per-bucket."""
    stream = _ses_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "7 days")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return drain_stream(agg, "sesfin").select(
        "user_id",
        F.unix_micros("w.start").alias("session_start_us"),
        "n_events",
        (
            F.unix_micros(F.col("w.end") - F.expr("INTERVAL 30 MINUTE"))
            - F.unix_micros("w.start")
        ).alias("session_us"),
    )


@query(
    "exact_moment_corr",
    oracle="""
    WITH m AS (
        SELECT event_type,
               COUNT(*) AS n,
               SUM(CAST(value AS DECIMAL(18,6))) AS sx,
               SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS sxx,
               CAST(SUM(EXTRACT(hour FROM ts)) AS BIGINT) AS sy,
               CAST(SUM(EXTRACT(hour FROM ts) * EXTRACT(hour FROM ts)) AS BIGINT) AS syy,
               SUM(CAST(value AS DECIMAL(18,6)) * CAST(EXTRACT(hour FROM ts) AS DECIMAL(2,0))) AS sxy
        FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / SQRT(
                 (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
               ),
             6
           ) AS corr_r
    FROM m
    """,
)
def exact_moment_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation (value vs hour-of-day, per event type) from
    EXACT MOMENTS: the five sums accumulate as DECIMAL/BIGINT — exact
    and order-free under any partitioning — and the correlation is one
    final double expression over those exact inputs, identical term
    order on both engines, rounded 6dp. The built-in `corr` streams
    float partials whose merge order varies with partitioning (the
    class of silent 100x-scale divergence check_invariance exists
    for); moments-then-formula is the scale-correct shape: one keyed
    aggregation, five monoid accumulators."""
    ev = load(spark, sf_dir, "events")
    x = F.col("value").cast("decimal(18,6)")
    y = F.hour("ts")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(y * y).cast("long").alias("syy"),
        F.sum(x * y.cast("decimal(2,0)")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    corr = (nd * sxy - sx * sy) / F.sqrt(
        (nd * sxx - sx * sx) * (nd * syy - sy * sy)
    )
    return m.select("event_type", "n", F.round(corr, 6).alias("corr_r"))


_DDW_T0, _DDW_G, _DDW_Q, _DDW_D = 1_700_000_000, 1000, 130, 550


def _ddw_batch_cte(j: int) -> str:
    """One unrolled dropDuplicatesWithinWatermark batch: the alive
    test uses W(j-1) (the eviction the state survived at the end of
    the PREVIOUS batch — dedup-check precedes eviction within a
    batch, pinned empirically), a first-seen-while-dead occurrence
    emits and becomes the new state, a dropped duplicate does NOT
    refresh state."""
    prev = f"st{j - 1}"
    return f"""
    a{j} AS (
      SELECT COALESCE(p.k, o.k) AS k, o.sec AS osec, p.s AS ps,
             (p.s IS NOT NULL AND p.s + {_DDW_D} >=
              COALESCE((SELECT wm FROM w WHERE j = {j - 1}),
                       -9223372036854775807)) AS alive,
             (o.k IS NOT NULL) AS present
      FROM {prev} p FULL OUTER JOIN (SELECT * FROM occ WHERE b = {j}) o
        ON p.k = o.k
    ),
    e{j} AS (SELECT k, osec AS sec FROM a{j} WHERE present AND NOT alive),
    st{j} AS (
      SELECT k, CASE WHEN present AND NOT alive THEN osec
                     WHEN alive THEN ps END AS s
      FROM a{j}
      WHERE (present AND NOT alive) OR alive
    )"""


_DDW_ORACLE = f"""
    WITH lohi AS (
      SELECT MIN(event_id) AS lo, MAX(event_id) AS hi,
             (MAX(event_id) - MIN(event_id) + 4) // 4 AS step
      FROM events
    ),
    ev AS (
      SELECT user_id % 50 AS k, (event_id - lo) // step AS b
      FROM events, lohi
    ),
    occ AS (
      SELECT DISTINCT k, b,
             CAST({_DDW_T0} + b * {_DDW_G} + (k % 7) * {_DDW_Q} AS BIGINT)
               AS sec
      FROM ev
    ),
    mx AS (SELECT b, MAX(sec) AS mts FROM occ GROUP BY b),
    w AS (
      SELECT j, (SELECT MAX(mts) FROM mx WHERE b < j) - {_DDW_D} AS wm
      FROM (SELECT unnest(generate_series(0, 3)) AS j) jj
    ),
    st0 AS (SELECT k, sec AS s FROM occ WHERE b = 0),
    e0 AS (SELECT k, sec FROM occ WHERE b = 0),
    {_ddw_batch_cte(1)},
    {_ddw_batch_cte(2)},
    {_ddw_batch_cte(3)}
    SELECT k, sec FROM e0
    UNION ALL SELECT k, sec FROM e1
    UNION ALL SELECT k, sec FROM e2
    UNION ALL SELECT k, sec FROM e3
"""


@query("streaming_dedup_watermark", oracle=_DDW_ORACLE)
def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's dropDuplicatesWithinWatermark STATE SEMANTICS under a
    FULL oracle — the remaining streaming-state pattern (keyed dedup
    state with watermark-driven TTL) after sessions / sharded sketch /
    foreachBatch / bitmap state. The event stream drains over four
    mtime-pinned id-range micro-batches; key = user_id % 50, event
    time = T0 + batch*1000s + (key%7)*130s (same-key rows within a
    batch share one timestamp, so the within-batch survivor is
    value-identical no matter which physical row wins), delay 550s.
    The geometry makes the state machine's branches all fire: every
    key emits at batch 0, is dropped at batches 1-2 while its entry
    is live, and re-emits at batch 3 iff its entry was evicted
    (key%7 <= 5; margins 30s/100s from the eviction boundary — no
    strict-vs-non-strict ambiguity). The oracle replays the
    empirically pinned mechanics relationally, one CTE per batch:
    watermark W(j) = max event time of batches < j minus delay
    (lagging one batch), DEDUP-CHECK BEFORE EVICTION inside a batch
    (an arriving duplicate is dropped against an entry the same
    batch then evicts — probe: key present in batches 0-5 with 100s
    eras re-emitted at batch 4, not 3), and NO state refresh from
    dropped duplicates (else that probe's key would never re-emit).
    All arithmetic integer seconds. A Spark-version change to any of
    those three rules flips the hash."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id")
    stream = replay_stream(
        spark,
        ("ddw", sf_dir),
        lambda: [
            part.select(
                (F.col("user_id") % 50).alias("k"),
                (
                    F.lit(_DDW_T0 + i * _DDW_G)
                    + (F.col("user_id") % 50 % 7) * _DDW_Q
                ).cast("long").alias("sec"),
            )
            for i, part in enumerate(id_range_splits(ev, "event_id", 4))
        ],
    )
    ded = (
        stream.withColumn("ts", F.timestamp_seconds("sec"))
        .withWatermark("ts", f"{_DDW_D} seconds")
        .dropDuplicatesWithinWatermark(["k"])
    )
    return drain_stream(ded.select("k", "sec"), "ddw").select("k", "sec")


_SSJ_T0, _SSJ_G, _SSJ_R = 1_700_000_000, 1000, 900


def _cb_prologue(
    late_shift: int,
    abandoned_mod4: int | None = None,
    orphan_mod4: int | None = None,
) -> str:
    """Shared oracle prologue for the click/buy stream-join family
    (streaming_stream_join / streaming_outer_join /
    streaming_full_outer_join / streaming_join_then_window): the
    fixture replay (clicks arrive at batch = era, buys one batch
    later), the per-batch lagging watermark CTE ``w``, the
    availableNow flush watermark ``wfin``, and the on-time slices
    ``cok``/``bok``. The queries differ only in ``late_shift``
    (seconds subtracted from the k%11=3 slice's buy times; 0 = no
    late slice), the outer-only ``abandoned_mod4`` (keys with k%4 =
    that value ship no buys -> unmatched clicks) and ``orphan_mod4``
    (keys with k%4 = that value ship no CLICKS -> unmatched buys;
    cross-era matches are impossible by geometry: era gap 1000 >
    R=900 + intra-era offsets). Keeping ONE prologue is what stops
    the geometry from drifting apart across the family (the
    write_mtime_pinned_splits lesson)."""
    ab = (
        f" AND user_id % 40 % 4 <> {abandoned_mod4}"
        if abandoned_mod4 is not None
        else ""
    )
    orph = (
        f" AND user_id % 40 % 4 <> {orphan_mod4}"
        if orphan_mod4 is not None
        else ""
    )
    return f"""
    WITH lohi AS (
      SELECT MIN(event_id) AS lo,
             (MAX(event_id) - MIN(event_id) + 4) // 4 AS step
      FROM events
    ),
    clk AS (
      SELECT user_id % 40 AS k, (event_id - lo) // step AS era,
             CAST({_SSJ_T0} + ((event_id - lo) // step) * {_SSJ_G}
                  + (user_id % 40 % 5) * 40 AS BIGINT) AS csec
      FROM events, lohi WHERE event_id % 25 = 0{orph}
    ),
    buy AS (
      SELECT user_id % 40 AS k, (event_id - lo) // step AS era,
             CAST({_SSJ_T0} + ((event_id - lo) // step) * {_SSJ_G}
                  + (user_id % 40 % 5) * 40 + 70 + (user_id % 40 % 3) * 300
                  - CASE WHEN user_id % 40 % 11 = 3 THEN {late_shift}
                         ELSE 0 END
                  AS BIGINT) AS bsec
      FROM events, lohi WHERE event_id % 25 = 1{ab}
    ),
    -- clicks arrive at batch = era; buys of era e arrive at batch e+1
    mxc AS (SELECT era AS b, MAX(csec) AS m FROM clk GROUP BY era),
    mxb AS (SELECT era + 1 AS b, MAX(bsec) AS m FROM buy GROUP BY era),
    -- Spark's global watermark = MIN over sides; a side that has
    -- produced NO rows yet holds its watermark at epoch 0, so the
    -- global stays unset (no late drops) until BOTH sides have data
    -- before batch j — LEAST must not skip the NULL side
    w AS (
      SELECT j,
             CASE WHEN (SELECT MAX(m) FROM mxc WHERE b < j) IS NOT NULL
                   AND (SELECT MAX(m) FROM mxb WHERE b < j) IS NOT NULL
                  THEN LEAST((SELECT MAX(m) FROM mxc WHERE b < j),
                             (SELECT MAX(m) FROM mxb WHERE b < j))
             END AS wm
      FROM (SELECT unnest(generate_series(0, 4)) AS j) jj
    ),
    -- final watermark after the availableNow flush batch: min over
    -- sides of the max event time across ALL batches
    wfin AS (
      SELECT LEAST((SELECT MAX(m) FROM mxc), (SELECT MAX(m) FROM mxb)) AS wm
    ),
    cok AS (
      SELECT c.* FROM clk c
      WHERE c.csec >= COALESCE((SELECT wm FROM w WHERE j = c.era),
                               -9223372036854775807)
    ),
    bok AS (
      SELECT b.* FROM buy b
      WHERE b.bsec >= COALESCE((SELECT wm FROM w WHERE j = b.era + 1),
                               -9223372036854775807)
    )"""


def _cb_sides(
    spark: SparkSession,
    sf_dir: str,
    late_shift: int,
    abandoned_mod4: int | None = None,
    orphan_mod4: int | None = None,
):
    """The click and buy split lists the stream-join family replays:
    5 batches, clicks of era i in batch i (batch 4 empty), buys of era
    e in batch e+1 (batch 0 empty) — mirrors _cb_prologue exactly;
    keep the two in lockstep."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id")
    eras = id_range_splits(ev, "event_id", 4)
    k = F.col("user_id") % 40
    empty = ev.filter(F.lit(False)).select(
        k.alias("k"), F.lit(0).cast("long").alias("sec")
    )
    clks, buys = [], []
    for i in range(5):
        cf = F.col("event_id") % 25 == 0
        if orphan_mod4 is not None:
            cf = cf & (k % 4 != orphan_mod4)
        clks.append(
            eras[i].filter(cf).select(
                k.alias("k"),
                (F.lit(_SSJ_T0 + i * _SSJ_G) + (k % 5) * 40)
                .cast("long")
                .alias("sec"),
            )
            if i < 4
            else empty
        )
        e = i - 1  # buys arriving at batch i carry time-era i-1
        bf = F.col("event_id") % 25 == 1
        if abandoned_mod4 is not None:
            bf = bf & (k % 4 != abandoned_mod4)
        buys.append(
            eras[e].filter(bf).select(
                k.alias("k"),
                (
                    F.lit(_SSJ_T0 + e * _SSJ_G)
                    + (k % 5) * 40
                    + F.lit(70)
                    + (k % 3) * 300
                    - F.when(k % 11 == 3, late_shift).otherwise(0)
                ).cast("long").alias("sec"),
            )
            if e >= 0
            else empty
        )
    return clks, buys


def _cb_streams(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    late_shift: int,
    abandoned_mod4: int | None = None,
    orphan_mod4: int | None = None,
):
    """Standard watermarked click/buy stream pair replaying one
    _cb_sides call (so one bounds job serves both sides): returns
    (clicks, buys) with (ck, cts, csec) / (bk, bts, bsec) columns and
    0-second watermarks on both sides."""
    import functools

    sides = functools.cache(
        lambda: _cb_sides(spark, sf_dir, late_shift, abandoned_mod4, orphan_mod4)
    )

    def _rd(i: int, side: str):
        return (
            replay_stream(spark, (name, sf_dir, side), lambda: sides()[i])
            .withColumn("ts", F.timestamp_seconds("sec"))
            .withWatermark("ts", "0 seconds")
        )

    c = _rd(0, "clk").select(
        F.col("k").alias("ck"), F.col("ts").alias("cts"), F.col("sec").alias("csec")
    )
    b = _rd(1, "buy").select(
        F.col("k").alias("bk"), F.col("ts").alias("bts"), F.col("sec").alias("bsec")
    )
    return c, b


def _cb_join(c, b, how: str = "inner"):
    """The family's shared join condition: same key, buy time within
    [click, click + R]."""
    return c.join(
        b,
        (F.col("ck") == F.col("bk"))
        & (F.col("bts") >= F.col("cts"))
        & (F.col("bts") <= F.col("cts") + F.expr(f"INTERVAL {_SSJ_R} SECONDS")),
        how,
    )


_SSJ_ORACLE = _cb_prologue(late_shift=2000) + f"""
    SELECT c.k, c.csec, b.bsec
    FROM cok c JOIN bok b
      ON c.k = b.k AND b.bsec >= c.csec AND b.bsec <= c.csec + {_SSJ_R}
"""


@query("streaming_stream_join", oracle=_SSJ_ORACLE)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM INNER JOIN (symmetric hash-join state on both
    sides, watermark-driven eviction) under a FULL oracle — the last
    Structured Streaming state pattern in the registry. Two file
    streams derive from events: 'clicks' (event_id % 25 = 0) arrive
    at batch = era; 'buys' (% 25 = 1) of time-era e arrive one batch
    LATER (e+1), so every match crosses a micro-batch boundary — the
    click side's state genuinely carries the pair. Join condition:
    same key (user_id % 40) and bts in [cts, cts + 900s]; same-era
    offsets (70/370/670s by key) are all inside the window, adjacent
    eras are 1000s apart and outside — matches are exactly same-era.
    A planted slice (key % 11 = 3) ships its buys with time shifted
    two eras back: LATE input (below the lagging min-of-sides
    watermark by >= 170s at arrival) that Spark drops at the input —
    and whose only cond-true partners are anyway long-evicted clicks,
    so both streaming drop mechanisms agree with the oracle's late
    filter. The oracle replays: watermark W(j) = least over sides of
    max event time in batches < j (delay 0), a row is on-time iff
    ts >= W(arrival batch), and — the probe-pinned guarantee — ALL
    cond-true pairs of on-time rows emit (state eviction is safe by
    construction: an earlier row is evicted only when no on-time
    future partner can satisfy the condition). Row multiplicities
    carry through the join on both engines."""
    c, b = _cb_streams(spark, sf_dir, "ssj", late_shift=2000)
    j = _cb_join(c, b)
    return drain_stream(
        j.select(F.col("ck").alias("k"), "csec", "bsec"), "ssj"
    ).select("k", "csec", "bsec")


@query(
    "interval_overlap_join",
    oracle="""
    WITH iv AS (
      SELECT l_suppkey AS skey,
             CAST(l_orderkey * 8 + l_linenumber AS BIGINT) AS iid,
             date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS s,
             date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
               + l_orderkey % 14 + 1 AS e
      FROM lineitem WHERE l_orderkey % 13 = 0
    )
    SELECT a.skey, a.iid AS id_a, b.iid AS id_b,
           CAST(LEAST(a.e, b.e) - GREATEST(a.s, b.s) + 1 AS BIGINT)
             AS overlap_len
    FROM iv a JOIN iv b
      ON a.skey = b.skey AND a.iid < b.iid
     AND a.s <= b.e AND b.s <= a.e
    """,
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL OVERLAP SELF-JOIN (operators/temporal.py:
    interval_overlap_pairs): sampled shipment validity windows
    [shipdate, shipdate + orderkey%14 + 1 days] per SUPPLIER; the
    engine runs the bucket-join physical (14-day buckets — max span,
    so <= 2 bucket rows per interval; equi-join + DISTINCT + exact
    verify), the oracle is the INDEPENDENT naive theta join. The hash
    match proves the bucketing loses no pair and the verify admits no
    false one — the interval-JOIN sibling of interval_coverage_counts'
    point-in-interval check. The key MUST scale with the corpus: the
    original returnflag key (3 values over a fixed 7-year range)
    densified with sf — intervals per key grew 10x per sf, so output
    pairs grew ~100x (measure_shuffle alpha 1.54 — the ppjoin
    fixed-vocab densification class). Supplier cardinality grows
    linearly with sf, so intervals-per-key (~46) and pairs-per-key
    are CONSTANT across scales: measured pair counts 62/708/6753 at
    sf0.001/0.01/0.1 — exactly linear. Dates as epoch-day integers
    end to end (the DATE fetch-path rule)."""
    from streaming_cdc_spark.operators.temporal import interval_overlap_pairs

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 13 == 0)
    s = F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date"))
    iv = li.select(
        F.col("l_suppkey").alias("skey"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long").alias("iid"),
        s.cast("long").alias("s"),
        (s + F.col("l_orderkey") % 14 + 1).cast("long").alias("e"),
    )
    return interval_overlap_pairs(iv, "skey", "iid", "s", "e", bucket_width=14)


_LOJ_ORACLE = _cb_prologue(late_shift=5000, abandoned_mod4=1) + f"""
    SELECT c.k, c.csec, b.bsec
    FROM cok c JOIN bok b
      ON c.k = b.k AND b.bsec >= c.csec AND b.bsec <= c.csec + {_SSJ_R}
    UNION ALL
    SELECT c.k, c.csec, CAST(-1 AS BIGINT) AS bsec
    FROM cok c
    WHERE NOT EXISTS (
            SELECT 1 FROM bok b
            WHERE b.k = c.k AND b.bsec >= c.csec
              AND b.bsec <= c.csec + {_SSJ_R})
      AND c.csec + {_SSJ_R} < (SELECT wm FROM wfin)
"""


@query("streaming_outer_join", oracle=_LOJ_ORACLE)
def streaming_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT OUTER JOIN under a FULL oracle — the outer
    variant adds the state pattern the inner form (streaming_stream_
    join) cannot exercise: an unmatched left row must eventually emit
    a NULL-padded result, and WHEN is a watermark decision, not a
    data decision. Empirically pinned mechanics (probe + regression
    test): (1) a left row emits its NULL row exactly when the
    watermark passes its eviction point STRICTLY (csec + R < wm; an
    eviction point equal to the final watermark stays in state and
    emits NOTHING), (2) matched rows never also emit a NULL row,
    (3) rows still in state when the availableNow drain finishes are
    silently discarded — the oracle's wfin CTE replays the flush
    batch's watermark (min over sides of each side's max event time
    across all batches) and applies the strict rule. Fixture: the
    streaming_stream_join geometry (clicks arrive at batch = era,
    buys one batch later, era-local offsets inside the 900s window)
    minus the buys of the k%4=1 'abandoned' key slice — a quarter of
    the click volume can never match and must surface through the
    NULL path: era 0-2 abandoned clicks emit (margins 100s+ from the
    boundary), era-3 clicks sit at eviction points >= 740s past the
    final watermark and must NOT. The k%11=3 late slice ships its
    buys 5000s back — BEYOND every click's join window, not the
    inner query's 2000s: Spark's late-INPUT filter uses the PREVIOUS
    batch's watermark (SPARK-24634 two-watermark semantics) while
    state eviction runs AFTER the join within a batch, so a late row
    landing between the two watermarks joins rows still in state —
    observed live: removing the k%4=1 buys lowered the buy-side max
    enough that a boundary late row un-dropped and matched an
    era-(e-2) click (probe-pinned in tests/test_temporal.py). An
    unmatchable late slice keeps the oracle outside that boundary's
    blast radius while still exercising late input in the stream.
    NULL bsec is carried as the -1 sentinel on both engines
    (nullable-BIGINT NaN is the scd2 fetch-path hazard)."""
    c, b = _cb_streams(spark, sf_dir, "loj", late_shift=5000, abandoned_mod4=1)
    j = _cb_join(c, b, "leftOuter")
    out = drain_stream(
        j.select(F.col("ck").alias("k"), "csec", "bsec"), "loj"
    )
    return out.select(
        "k", "csec", F.coalesce(F.col("bsec"), F.lit(-1).cast("long")).alias("bsec")
    )


_FOJ_ORACLE = _cb_prologue(late_shift=0, abandoned_mod4=1, orphan_mod4=2) + f"""
    SELECT c.k, c.csec, b.bsec
    FROM cok c JOIN bok b
      ON c.k = b.k AND b.bsec >= c.csec AND b.bsec <= c.csec + {_SSJ_R}
    UNION ALL
    SELECT c.k, c.csec, CAST(-1 AS BIGINT) AS bsec
    FROM cok c
    WHERE NOT EXISTS (
            SELECT 1 FROM bok b
            WHERE b.k = c.k AND b.bsec >= c.csec
              AND b.bsec <= c.csec + {_SSJ_R})
      AND c.csec + {_SSJ_R} < (SELECT wm FROM wfin)
    UNION ALL
    SELECT b.k, CAST(-1 AS BIGINT) AS csec, b.bsec
    FROM bok b
    WHERE NOT EXISTS (
            SELECT 1 FROM cok c
            WHERE c.k = b.k AND b.bsec >= c.csec
              AND b.bsec <= c.csec + {_SSJ_R})
      AND b.bsec < (SELECT wm FROM wfin)
"""


@query("streaming_full_outer_join", oracle=_FOJ_ORACLE)
def streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM FULL OUTER JOIN — completes the stream-join kind
    matrix (inner: streaming_stream_join; leftOuter:
    streaming_outer_join) with the one that holds NULL-emission state
    on BOTH sides. Empirically pinned mechanics
    (test_stream_full_outer_null_emission_probe): left NULL rows
    follow the left-outer rule (csec + R < final wm STRICTLY); right
    NULL rows emit iff the final watermark strictly passes the buy's
    OWN event time (bsec < wm — under the bts >= cts constraint the
    buy-side eviction point is bts itself, no R allowance; equality
    stays in state and emits nothing); matched rows never re-emit;
    end-of-drain state is silently discarded. Fixture: the shared
    click/buy geometry with BOTH outer slices planted — k%4=1 keys
    ship no buys (unmatched clicks -> left NULL path) and k%4=2 keys
    ship no CLICKS (unmatched buys -> right NULL path; cross-era
    matches impossible: era gap 1000s > R=900s + intra-era offsets,
    so orphanhood is total by geometry). No late slice (late-input
    admission is the inner query's evidence; keeping it out holds
    the SPARK-24634 two-watermark boundary outside the oracle's
    blast radius). Era-3 CLICKS (eviction points csec + R >= T0 +
    3900 > wfin) never emit; era-3 orphan BUYS straddle the boundary
    — those with bsec < wfin (= T0 + 3160, the click-side all-batch
    max) DO emit right-NULL rows and the rest stay in state, so the
    strict rule itself carries hashed rows on both sides of the
    cut. The wfin CTE replays the availableNow flush watermark (min
    over sides of each side's all-batch max); no fixture row lands
    exactly ON wfin (40a + 300b = 90 has no solution), so the hash
    cannot mask an off-by-one there — the probe test pins
    strictness instead. NULL csec/bsec carried as -1 sentinels on both
    engines (the scd2 nullable-BIGINT fetch hazard)."""
    c, b = _cb_streams(
        spark, sf_dir, "foj", late_shift=0, abandoned_mod4=1, orphan_mod4=2
    )
    j = _cb_join(c, b, "fullOuter")
    out = drain_stream(
        j.select(
            F.coalesce(F.col("ck"), F.col("bk")).alias("k"), "csec", "bsec"
        ),
        "foj",
    )
    return out.select(
        "k",
        F.coalesce(F.col("csec"), F.lit(-1).cast("long")).alias("csec"),
        F.coalesce(F.col("bsec"), F.lit(-1).cast("long")).alias("bsec"),
    )


_SJW_ORACLE = _cb_prologue(late_shift=0) + f""",
    m AS (
      SELECT c.k, c.csec, b.bsec - c.csec AS lag_sec
      FROM cok c JOIN bok b
        ON c.k = b.k AND b.bsec >= c.csec AND b.bsec <= c.csec + {_SSJ_R}
    ),
    agg AS (
      SELECT (csec // 1000) * 1000 AS win_start_sec,
             COUNT(*) AS n_pairs,
             SUM(lag_sec) AS sum_lag_sec
      FROM m GROUP BY 1
    )
    SELECT CAST(win_start_sec AS BIGINT) AS win_start_sec,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(sum_lag_sec AS BIGINT) AS sum_lag_sec
    FROM agg WHERE win_start_sec + 1000 <= (SELECT wm FROM wfin) - {_SSJ_R}
"""


@query("streaming_join_then_window", oracle=_SJW_ORACLE)
def streaming_join_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED MULTI-STATEFUL streaming query under a FULL oracle —
    a stream-stream inner join FEEDING a watermarked tumbling-window
    aggregation in ONE streaming query (two stateful operators,
    legal since multiple-stateful-operator support, SPARK-42376):
    conversion-rate-per-window over click->buy pairs, the composition
    a real funnel dashboard runs. Upstream join = the
    streaming_stream_join geometry WITHOUT the late slice (the
    SPARK-24634 two-watermark boundary must stay out of oracle reach
    — see streaming_outer_join); downstream = 1000s tumbling windows
    on the CLICK's event time (the join output keeps cts as its
    event-time column after the buy side's is stripped), counting
    pairs and exact lag sums per window (countDistinct is unsupported
    in streaming aggregations). Emission (probe-pinned): the join
    DELAYS the downstream watermark by its state-holding interval —
    the aggregation finalizes a window iff its END <= final flush
    watermark MINUS the 900s join bound (a join output row carrying
    cts can still appear while wm <= cts + 900, so the agg's
    operative watermark is wm - 900; observed live: era-2's window,
    which the undelayed rule would emit at margin 160s, stays open).
    Era 0-1 windows emit (margins 260s+), eras 2-3 must NOT (margins
    740s+); window ends are 1000-aligned while the threshold carries
    a 740s offset, so strict-vs-non-strict is unobservable. The
    oracle replays join + window assignment + the delayed-watermark
    emission rule relationally; a hash match certifies the watermark
    arithmetic propagates CORRECTLY THROUGH the join into the
    aggregation's finalization decision — the property
    single-operator queries cannot test."""
    c, b = _cb_streams(spark, sf_dir, "sjw", late_shift=0)
    j = _cb_join(c, b)
    # project AWAY the buy side's event-time column so exactly one
    # event-time column (cts) feeds the downstream stateful
    # aggregation — a stateful operator chained after a stream-stream
    # join (SPARK-42376) needs one event-time column to window on
    g = (
        j.select(
            F.col("cts").alias("ts"),
            (F.col("bsec") - F.col("csec")).alias("lag_sec"),
        )
        .groupBy(F.window("ts", "1000 seconds").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("lag_sec").cast("long").alias("sum_lag_sec"),
        )
        .select(
            F.unix_seconds(F.col("w.start")).alias("win_start_sec"),
            "n_pairs",
            "sum_lag_sec",
        )
    )
    return drain_stream(g, "sjw").select(
        "win_start_sec", "n_pairs", "sum_lag_sec"
    )



_EWMA_ORACLE = """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    l AS (
      SELECT user_id, event_id, cents,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn,
             LAG(cents, 1) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS c1,
             LAG(cents, 2) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS c2,
             LAG(cents, 3) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS c3,
             LAG(cents, 4) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS c4,
             LAG(cents, 5) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS c5,
             LAG(cents, 6) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS c6,
             LAG(cents, 7) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS c7
      FROM e
    ),
    last AS (SELECT * FROM l WHERE rn = 1)
    SELECT user_id, event_id AS last_event_id,
           CAST(cents * 128 + COALESCE(c1, 0) * 64 + COALESCE(c2, 0) * 32
                + COALESCE(c3, 0) * 16 + COALESCE(c4, 0) * 8
                + COALESCE(c5, 0) * 4 + COALESCE(c6, 0) * 2
                + COALESCE(c7, 0) AS BIGINT) AS num,
           CAST(128 + CASE WHEN c1 IS NULL THEN 0 ELSE 64 END
                + CASE WHEN c2 IS NULL THEN 0 ELSE 32 END
                + CASE WHEN c3 IS NULL THEN 0 ELSE 16 END
                + CASE WHEN c4 IS NULL THEN 0 ELSE 8 END
                + CASE WHEN c5 IS NULL THEN 0 ELSE 4 END
                + CASE WHEN c6 IS NULL THEN 0 ELSE 2 END
                + CASE WHEN c7 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS den,
           ROUND(CAST(cents * 128 + COALESCE(c1, 0) * 64 + COALESCE(c2, 0) * 32
                      + COALESCE(c3, 0) * 16 + COALESCE(c4, 0) * 8
                      + COALESCE(c5, 0) * 4 + COALESCE(c6, 0) * 2
                      + COALESCE(c7, 0) AS DOUBLE)
                 / CAST(128 + CASE WHEN c1 IS NULL THEN 0 ELSE 64 END
                        + CASE WHEN c2 IS NULL THEN 0 ELSE 32 END
                        + CASE WHEN c3 IS NULL THEN 0 ELSE 16 END
                        + CASE WHEN c4 IS NULL THEN 0 ELSE 8 END
                        + CASE WHEN c5 IS NULL THEN 0 ELSE 4 END
                        + CASE WHEN c6 IS NULL THEN 0 ELSE 2 END
                        + CASE WHEN c7 IS NULL THEN 0 ELSE 1 END AS DOUBLE)
                 / 100.0, 4) AS ewma_r
    FROM last
"""


@query("ewma_user_value", oracle=_EWMA_ORACLE)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's value at
    their LATEST event — time-series smoothing with alpha = 1/2 over
    the trailing 8 observations, kept EXACT by construction: the
    geometric weights 1/2, 1/4, ... are DYADIC, so the weighted sum
    is an integer combination of cents (newest*128 + ... + oldest*1)
    and the normalizer is the matching power-of-two sum over the
    lags that exist — users with < 8 events renormalize over their
    true history (a per-row integer denominator), never over padded
    zeros. One hash exchange per user feeds both the 7 LAG columns
    and the latest-row rank (two sorts, one partitioning); the only
    float op is the final num/den/100 division, identical order both
    sides, rounded 4dp. A truly infinite-horizon EWMA is an
    order-dependent float recurrence (not hash-matchable, and on an
    unbounded stream not mergeable either); the bounded dyadic form
    is the determinism-safe equivalent the registry's float rules
    require. Ties: (tus, event_id) is a total order on both
    engines."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    e = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("tus"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    asc = W.partitionBy("user_id").orderBy("tus", "event_id")
    desc = W.partitionBy("user_id").orderBy(
        F.col("tus").desc(), F.col("event_id").desc()
    )
    lags = [F.lag("cents", k).over(asc).alias(f"c{k}") for k in range(1, 8)]
    last = (
        e.select("user_id", "event_id", "cents", *lags,
                 F.row_number().over(desc).alias("rn"))
        .filter(F.col("rn") == 1)
    )
    weights = [64, 32, 16, 8, 4, 2, 1]
    num = F.col("cents") * 128
    den = F.lit(128)
    for k, wt in zip(range(1, 8), weights):
        num = num + F.coalesce(F.col(f"c{k}"), F.lit(0)) * wt
        den = den + F.when(F.col(f"c{k}").isNull(), 0).otherwise(wt)
    return last.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        num.cast("long").alias("num"),
        den.cast("long").alias("den"),
        F.round(
            num.cast("double") / den.cast("double") / F.lit(100.0), 4
        ).alias("ewma_r"),
    )


def _sse_stream(spark: SparkSession, sf_dir: str):
    """The 3 id-range event batches the stream-static enrichment and
    output-mode queries replay. ONE builder for all four
    (stream_static_enrich / stream_static_enrich_evolving /
    streaming_update_mode_counts / streaming_complete_mode_topk):
    they share one replay dir, so a drift between two copies would
    poison whichever query ran second — the _cb_sides lockstep lesson
    (review r8)."""

    def build():
        ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
        return [
            part.select(
                "event_id",
                "user_id",
                "event_type",
                (F.col("value").cast("decimal(18,2)") * 100)
                .cast("long")
                .alias("cents"),
            )
            for part in id_range_splits(ev, "event_id", 3)
        ]

    return replay_stream(spark, ("sse", sf_dir), build)


_SSE_ORACLE = """
    SELECT c.c_mktsegment, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents_sum
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.value IS NOT NULL
    GROUP BY 1, 2
"""


@query("stream_static_enrich", oracle=_SSE_ORACLE)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC JOIN — the remaining Structured Streaming join
    kind after the stream-stream family (inner/leftOuter) and the
    stateful patterns: a micro-batched event stream enriched against
    a STATIC dimension (customer segment), the canonical streaming
    fact-to-dim lookup. The static side is re-planned per micro-batch
    as a BROADCAST hash join build (no state store at all — this is
    the whole point of the pattern: enrichment needs no watermark,
    no state, and scales to any stream length; at 100 TB/day the
    dim broadcast is the only non-linear-in-stream cost). The event
    stream drains over three mtime-pinned id-range files with
    maxFilesPerTrigger=1, so three separate batch joins must agree;
    the drained enriched rows are folded to per-(segment, type)
    exact-integer counts/cent sums, and the oracle is the
    INDEPENDENT batch formulation — one plain SQL join — whose hash
    match proves batch-join == union of per-micro-batch joins.
    Inner join is total here by fixture shape (every user_id has a
    customer row at every sf — pinned by
    test_sse_fixture_every_event_user_has_customer), so no rows ride
    on matched-ness."""
    stream = _sse_stream(spark, sf_dir)
    dim = F.broadcast(
        load(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
    )
    joined = stream.join(dim, "user_id", "inner")
    drained = drain_stream(
        joined.select("c_mktsegment", "event_type", "cents"), "sse"
    )
    return drained.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("cents_sum"),
    )


@query("streaming_sessions_custom_state", oracle=_SESSIONS_ORACLE)
def streaming_sessions_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState + EVENT-TIME-TIMEOUT twin of
    streaming_sessions_finalized — same drain, same watermark, SAME
    ORACLE, different physical: sessions live as custom ValueState
    (open-session triples per user) and finalize when the group's
    event-time timeout fires after the watermark passes each
    session's expiry (streaming/windows.py:streaming_sessionizer_
    custom has the full semantics note). This is the last streaming
    state-API surface without a driver-hashable query: NoTimeout
    applyInPandasWithState (bloom/Misra-Gries), foreachBatch sinks,
    native session_window / tumbling / dropDuplicatesWithinWatermark
    / stream-stream joins all have one; event-time timeouts now do
    too."""
    from streaming_cdc_spark.session import ensure_package_on_executors
    from streaming_cdc_spark.streaming.windows import streaming_sessionizer_custom

    ensure_package_on_executors(spark)
    stream = _ses_stream(spark, sf_dir)
    out = streaming_sessionizer_custom(stream)
    return drain_stream(
        out.select("user_id", "session_start_us", "n_events", "session_us"),
        "sescs",
    ).select("user_id", "session_start_us", "n_events", "session_us")


_SSEE_ORACLE = """
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    b AS (SELECT MIN(event_id) AS lo, MAX(event_id) AS hi FROM ev),
    seg AS (SELECT c_custkey AS user_id, c_mktsegment FROM customer)
    SELECT CASE WHEN e.user_id % 5 = 3
                     AND e.event_id < b.lo + (b.hi - b.lo + 3) // 3
                THEN '(late-dim)' ELSE s.c_mktsegment END AS segment,
           e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(e.cents) AS BIGINT) AS cents_sum
    FROM ev e CROSS JOIN b LEFT JOIN seg s ON e.user_id = s.user_id
    GROUP BY 1, 2
"""


@query("stream_static_enrich_evolving", oracle=_SSEE_ORACLE)
def stream_static_enrich_evolving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC JOIN WITH AN EVOLVING DIMENSION — the one
    stream-static behavior stream_static_enrich cannot pin: the dim
    is RE-READ FRESH EACH MICRO-BATCH, so dimension rows upserted
    between triggers enrich later batches (the slowly-changing-dim
    contract every production enrichment pipeline relies on). A
    plain static-DataFrame join can NOT promise this — Spark's file
    index for a static side is resolved when the plan is built, so
    the supported per-batch-refresh physical is foreachBatch with an
    explicit spark.read inside the handler (re-planned per batch;
    the dim stays broadcast-sized, so each batch pays one broadcast
    build — the only non-linear-in-stream cost at 100 TB/day).
    Fixture: dim v0 = customer MINUS the user_id % 5 == 3 rows;
    after batch 0 is processed (and ONLY then) the held-out rows are
    appended to the dim directory. Three mtime-pinned id-range event
    batches drain with maxFilesPerTrigger=1; batch-0 events of
    held-out users enrich to the '(late-dim)' sentinel (left join),
    while the SAME users' events in batches 1-2 get their real
    segment — so the oracle (one batch SQL join + the batch-0
    id-range CASE) hash-matches iff batch 1 actually SAW the rows
    added after batch 0. Exact-integer counts/cent sums per
    (segment, event_type), the registry money rule. The handler is
    IDEMPOTENT per batch id (at-least-once foreachBatch contract —
    the materialize.py / zorder_sink convention): batch output goes
    to an overwritten per-batch subdir and the batch-0 dim upsert to
    an overwritten fixed subdir, so a replayed batch can neither
    double its rows nor double the appended dim rows. The left-join
    sentinel only means 'dim row not yet visible' because every
    event user_id has a customer row — pinned by
    test_sse_fixture_every_event_user_has_customer."""
    import shutil
    import tempfile

    stream = _sse_stream(spark, sf_dir)
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    held = F.col("user_id") % 5 == 3
    # dim + out dirs are FRESH per call: the dim MUTATES mid-run, so
    # (unlike the cached immutable source splits) reuse would leak
    # batch-1 state into a replay's batch 0
    dim_dir = tempfile.mkdtemp(prefix="ssee_dim_")
    out_dir = tempfile.mkdtemp(prefix="ssee_out_")
    try:
        cust.filter(~held).write.mode("overwrite").parquet(f"{dim_dir}/base")
        late_rows = cust.filter(held).localCheckpoint()

        def handle(batch_df, batch_id: int) -> None:
            sp = batch_df.sparkSession
            # Batch 0 joins an EXPLICIT v0 snapshot path keyed by
            # batch_id: foreachBatch is at-least-once, and a batch-0
            # retry landing AFTER the late-dim append would otherwise
            # re-read dim_dir/* INCLUDING the late rows and rewrite b0
            # with real segments instead of '(late-dim)' (review r8).
            # Batches >= 1 read the evolving glob — that per-batch
            # re-read is the behavior under test.
            dim_glob = f"{dim_dir}/base" if batch_id == 0 else f"{dim_dir}/*"
            dim = F.broadcast(sp.read.parquet(dim_glob))
            (
                batch_df.join(dim, "user_id", "left")
                .select(
                    F.coalesce(F.col("segment"), F.lit("(late-dim)")).alias(
                        "segment"
                    ),
                    "event_type",
                    "cents",
                )
                .write.mode("overwrite")
                .parquet(f"{out_dir}/b{batch_id}")
            )
            if batch_id == 0:
                late_rows.write.mode("overwrite").parquet(f"{dim_dir}/late")

        drain_stream(stream, handle)
        return (
            spark.read.parquet(f"{out_dir}/b*")
            .groupBy("segment", "event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum("cents").cast("long").alias("cents_sum"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(dim_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)


_UPDM_ORACLE = """
    WITH ev AS (
      SELECT event_id, event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    b AS (SELECT MIN(event_id) AS lo,
                 (MAX(event_id) - MIN(event_id) + 3) // 3 AS step
          FROM ev),
    bat AS (SELECT event_type, cents, (event_id - lo) // step AS bi
            FROM ev, b),
    pb AS (SELECT event_type, bi, COUNT(*) AS c, SUM(cents) AS s
           FROM bat GROUP BY 1, 2),
    cum AS (
      SELECT event_type,
             CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bi)
                  AS BIGINT) AS n,
             CAST(SUM(s) OVER (PARTITION BY event_type ORDER BY bi)
                  AS BIGINT) AS cents_sum
      FROM pb
    )
    SELECT event_type, n, cents_sum FROM cum
"""


@query("streaming_update_mode_counts", oracle=_UPDM_ORACLE)
def streaming_update_mode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE OUTPUT MODE — the remaining Structured Streaming output
    mode after append (every other streaming query here) and
    foreachBatch: an unwatermarked running aggregation that, per
    micro-batch, emits ONLY the keys that batch touched, carrying
    their CUMULATIVE aggregate — the live-dashboard contract (each
    trigger pushes deltas for changed rows, not the full state, not
    finalized-only rows). Empirically probed before the oracle was
    written: the memory sink in update mode ACCUMULATES emissions,
    so the drained table holds one row per (event_type,
    batch-that-touched-it) with the running (count, cents_sum)
    through that batch. The oracle replays exactly that: per-batch
    presence x cumulative window sums over the batch index — a hash
    match pins WHICH batches emitted (presence rule) and WHAT they
    carried (running totals), i.e. the update-mode state machine.
    Rows are unique by construction (a type's count strictly
    increases across its emitting batches). Three mtime-pinned
    id-range batches (the shared _sse_stream); state is the
    per-type running aggregate — at 100 TB the state store holds
    |keys| rows, the mode never rescans history."""
    stream = _sse_stream(spark, sf_dir)
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("cents_sum"),
    )
    return drain_stream(agg, "updm", output_mode="update")


_CPLM_ORACLE = """
    WITH ev AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    agg AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS cents_sum
      FROM ev GROUP BY 1
    )
    SELECT event_type, n, cents_sum
    FROM agg ORDER BY n DESC, event_type LIMIT 3
"""


@query("streaming_complete_mode_topk", oracle=_CPLM_ORACLE)
def streaming_complete_mode_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE OUTPUT MODE — with streaming_update_mode_counts this
    closes the output-mode matrix (append: every watermarked query
    here; update: per-batch changed-key deltas; complete: the FULL
    result re-emitted every trigger). Complete mode is also the ONLY
    mode where a streaming query may GLOBALLY SORT AND LIMIT — a
    live leaderboard (top event types by running count) is
    inexpressible in append/update because a rank can demote rows
    already emitted; re-emitting the whole (tiny) result is the
    semantics that makes top-k well-defined on a stream. The memory
    sink in complete mode REPLACES the table each trigger, so after
    the availableNow drain the table holds exactly the final
    leaderboard — the oracle is the plain batch top-3 with the
    (n DESC, event_type) total order. State is the per-type running
    aggregate (|keys| rows); the leaderboard itself is
    result-bounded (k rows), which is what keeps complete mode sane
    at 100 TB: re-emission cost scales with the RESULT, not the
    stream, and a result-bounded query is the only kind complete
    mode should ever serve."""
    stream = _sse_stream(spark, sf_dir)
    top = (
        stream.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
        .orderBy(F.col("n").desc(), "event_type")
        .limit(3)
    )
    return drain_stream(top, "cplm", output_mode="complete")


_TTC_ORACLE = """
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_us(ts) AS tus
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    w AS (
      SELECT user_id, event_id, event_type, tus,
             MIN(CASE WHEN event_type = 'purchase' THEN tus END)
               OVER (PARTITION BY user_id ORDER BY tus, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS nxt_tus
      FROM e
    )
    SELECT event_id AS click_id, user_id,
           CAST(nxt_tus - tus AS BIGINT) AS delay_us
    FROM w
    WHERE event_type = 'click' AND nxt_tus IS NOT NULL
      AND nxt_tus - tus <= 604800000000
"""


@query("time_to_convert", oracle=_TTC_ORACLE)
def time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD-LOOKING AS-OF — the mirror of purchase_attribution's
    backward as-of: for every click, the delay to the user's NEXT
    purchase within a 7-day horizon (time-to-convert, the funnel
    dashboard's core latency metric). Physical: ZERO JOINS — one
    hash exchange per user feeds a single forward-frame window
    (ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) whose
    conditional MIN picks the earliest following purchase timestamp;
    a join-based formulation (click x purchase per user) would be
    quadratic in a hot user's events, the window is linear in the
    per-user sort. The (tus, event_id) total order makes the frame
    deterministic under timestamp ties; 1 FOLLOWING excludes the
    click itself even from a same-microsecond purchase (ties resolve
    by event_id — a purchase with the same tus but lower id is NOT
    'next'; both engines evaluate the identical frame rule, which is
    what the hash pins). All arithmetic exact integer microseconds."""
    from pyspark.sql import Window as W

    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("tus"),
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    nxt = F.min(
        F.when(F.col("event_type") == "purchase", F.col("tus"))
    ).over(w)
    return (
        e.withColumn("nxt_tus", nxt)
        .filter(
            (F.col("event_type") == "click")
            & F.col("nxt_tus").isNotNull()
            & (F.col("nxt_tus") - F.col("tus") <= 604_800_000_000)
        )
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            (F.col("nxt_tus") - F.col("tus")).cast("long").alias("delay_us"),
        )
    )


_DYNGAP_ORACLE = """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS tus,
             CASE event_type WHEN 'click' THEN 600000000
                             WHEN 'purchase' THEN 3600000000
                             ELSE 1200000000 END AS gap_us,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isp
      FROM events WHERE ts IS NOT NULL
    ),
    pm AS (
      SELECT user_id, tus, gap_us, isp,
             MAX(tus + gap_us) OVER (
               PARTITION BY user_id ORDER BY tus
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_end
      FROM e
    ),
    isl AS (
      SELECT user_id, tus, gap_us, isp,
             SUM(CASE WHEN prev_end IS NULL OR tus > prev_end
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY tus) AS sid
      FROM pm
    )
    SELECT user_id,
           CAST(MIN(tus) AS BIGINT) AS session_start_us,
           CAST(MAX(tus + gap_us) AS BIGINT) AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(isp) AS BIGINT) AS n_purchases
    FROM isl GROUP BY user_id, sid
"""


@query("dynamic_gap_sessions", oracle=_DYNGAP_ORACLE)
def dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-GAP SESSION WINDOWS — the native session_window
    operator with a PER-EVENT gap EXPRESSION (clicks hold a session
    600s, purchases 3600s, everything else 1200s — the per-activity
    timeout every real sessionizer ships), the semantics the
    fixed-gap queries (user_sessions, streaming_sessions_finalized)
    cannot express. Empirically pinned BEFORE the oracle was written
    (the repo rule): each event spans [ts, ts + gap(event)); windows
    merge iff the next event's ts <= the running MAX end —
    boundary-EQUAL MERGES (probed: t0 with gap 600 and an event at
    exactly t0+600s land in ONE session whose end is the second
    event's span). The oracle replays that machine in epoch MICROS:
    a ROWS-frame running max of (tus + gap) over each user, island
    break iff tus > prev_max_end, session end = MAX(tus + gap)
    within the island. Duplicate-ts tie order provably cannot change
    the result (twins always co-island: whichever orders second sees
    the first's end >= tus), and the island-id SUM uses the
    RANGE-default frame so tie peers share one sid. Output keyed by
    (user, session) with integer-microsecond bounds — no
    DATE/timestamp fetch hazard. One session_window aggregate =
    one user-keyed shuffle at any scale."""
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    gap = (
        F.when(F.col("event_type") == "click", F.lit("600 seconds"))
        .when(F.col("event_type") == "purchase", F.lit("3600 seconds"))
        .otherwise(F.lit("1200 seconds"))
    )
    s = ev.groupBy("user_id", F.session_window("ts", gap).alias("sw")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        # when/otherwise(0), not a bool cast: a session whose every
        # event_type is NULL must sum to 0 like the oracle's
        # CASE...ELSE 0, not to NULL (the r4 sum-over-NULLs class)
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purchases"),
    )
    return s.select(
        "user_id",
        F.unix_micros("sw.start").alias("session_start_us"),
        F.unix_micros("sw.end").alias("session_end_us"),
        "n_events",
        "n_purchases",
    )
