"""Relational parity layer (SURVEY.md §2.8) over the synthetic tables.

Each query is a declared operator pattern from the reference —
scan/project/filter, joins (broadcast/semi/anti/band), groupBy
aggregates, window functions (first-occurrence dense ids = R1-R3,
running sums = A5 sweep), union/except, HAVING, top-k, vocab ranking
(R4), seen/unseen routing (J3/A12), struct-max argmax (R7), lag windows
and percent_rank — expressed Spark-first so Catalyst gets
pushdown/pruning/broadcast for free.

Determinism: float sums go through DECIMAL casts (exact, associative)
and only the final value is cast to double + rounded, so the DuckDB
oracle hashes match bit-for-bit regardless of partition order.
Reference parity notes are cited per query (file:line of
/root/reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from streaming_cdc_spark.operators.ranking import dense_rank_global, running_sum_global
from streaming_cdc_spark.queries.registry import query
from streaming_cdc_spark.tables import load

DEC = "decimal(18,2)"


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS sum_disc_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE), 2) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped scan+agg; the reference's sweep-style aggregations
    (A1/A11, e.g. preprocess_medmentions.py:66-67) generalized.
    Single shuffle on the 2-col group key; partial aggregation map-side."""
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(DEC)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    tax = F.col("l_tax").cast(DEC)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-06-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qty).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(price).cast("double"), 2).alias("sum_base_price"),
            F.round(F.sum(price * (F.lit(1) - disc)).cast("double"), 2).alias("sum_disc_price"),
            F.round(F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax)).cast("double"), 2).alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / F.count("*"), 4).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / F.count("*"), 4).alias("avg_price"),
            F.round(F.sum(disc).cast("double") / F.count("*"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "revenue_by_nation",
    oracle="""
    SELECT r_name, n_name,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join with broadcast dims (J1 pattern,
    preprocess_zeshel.py:17-50 doc<->mention lookup join). nation/region
    are broadcast so only the lineitem->orders->customer joins shuffle."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(revenue).cast("double"), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "order_priority_check",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (J3 seen/unseen routing, scripts/split_unseen.py:5-23)
    with a non-equi residual condition."""
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey")) & (F.col("l_shipdate") > F.col("o_orderdate")),
            "leftsemi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "customers_without_orders",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_acctbal
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 100000)
    GROUP BY c_mktsegment
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (J3/J4 set difference, preprocess_kilt.py:56-58)."""
    cust = load(spark, sf_dir, "customer")
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 100000)
        .select("o_custkey")
    )
    return (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"), "leftanti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast(DEC)).cast("double") / F.count("*"), 4).alias("avg_acctbal"),
        )
    )


@query(
    "first_occurrence_ids",
    oracle="""
    SELECT user_id, first_seen,
           DENSE_RANK() OVER (ORDER BY first_seen) AS dense_id
    FROM (SELECT user_id, MIN(event_id) AS first_seen FROM events GROUP BY user_id)
    """,
)
def first_occurrence_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: first-occurrence dense integer ids in stream order — the
    reference's dynamic-vocab integerization (baseline.py:80-82,
    utils.py:46-51) made deterministic. Aggregate first (shuffle on
    user_id), then a single-partition dense_rank over the small
    distinct-key set — not over the raw stream."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min("event_id").alias("first_seen"))
    return dense_rank_global(firsts, "first_seen", "dense_id")


@query(
    "string_match_clusters",
    oracle="""
    SELECT doc_id, mention_key,
           DENSE_RANK() OVER (ORDER BY first_doc) AS cluster_id
    FROM (
        SELECT doc_id, mention_key,
               MIN(doc_id) OVER (PARTITION BY mention_key) AS first_doc
        FROM (SELECT doc_id,
                     array_to_string(string_split(text, ' ')[1:2], ' ') AS mention_key
              FROM documents)
    )
    """,
)
def string_match_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2: string-match clustering (string_match.py:22-28) — cluster id
    = first-occurrence id of the mention surface (first two words)."""
    docs = load(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.array_join(F.slice(F.split("text", " "), 1, 2), " ").alias("mention_key"),
    )
    # rank only the per-key first occurrences (small), then join back —
    # no global window over the raw stream
    firsts = keyed.groupBy("mention_key").agg(F.min("doc_id").alias("first_doc"))
    ranked = dense_rank_global(firsts, "first_doc", "cluster_id").drop("first_doc")
    return keyed.join(ranked, "mention_key").select("doc_id", "mention_key", "cluster_id")


@query(
    "composite_key_clusters",
    oracle="""
    SELECT event_id,
           DENSE_RANK() OVER (ORDER BY first_seen) AS cluster_id
    FROM (
        SELECT event_id,
               MIN(event_id) OVER (PARTITION BY user_id, event_type) AS first_seen
        FROM events
    )
    """,
)
def composite_key_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3: within-document oracle clustering (oracle_wd.py:27-34) —
    first-occurrence id of the composite key (user_id, event_type)."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id", "event_type").agg(F.min("event_id").alias("first_seen"))
    ranked = dense_rank_global(
        firsts.select("first_seen").distinct(), "first_seen", "cluster_id"
    )
    return (
        ev.join(firsts, ["user_id", "event_type"])
        .join(ranked, "first_seen")
        .select("event_id", "cluster_id")
    )


@query(
    "max_active_sweep",
    oracle="""
    WITH intervals AS (
        SELECT user_id, MIN(event_id) AS s, MAX(event_id) AS e
        FROM events GROUP BY user_id
    ),
    deltas AS (
        SELECT s AS pos, 1 AS delta FROM intervals
        UNION ALL
        SELECT e + 1 AS pos, -1 AS delta FROM intervals
    )
    SELECT CAST(MAX(running) AS BIGINT) AS max_active FROM (
        SELECT SUM(delta) OVER (ORDER BY pos, delta ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        FROM deltas
    )
    """,
)
def max_active_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: max-active-entities sweep (max_active.py:6-30) — per-key
    [first,last] interval, +/-1 events, running sum, max concurrent."""
    ev = load(spark, sf_dir, "events")
    intervals = ev.groupBy("user_id").agg(F.min("event_id").alias("s"), F.max("event_id").alias("e"))
    deltas = intervals.select(F.col("s").alias("pos"), F.lit(1).alias("delta")).unionAll(
        intervals.select((F.col("e") + 1).alias("pos"), F.lit(-1).alias("delta"))
    )
    running = running_sum_global(deltas, ["pos", "delta"], "delta", "running")
    return running.agg(F.max("running").alias("max_active"))


@query(
    "event_type_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_value,
           ROUND(MIN(value), 2) AS min_value,
           ROUND(MAX(value), 2) AS max_value,
           ROUND(CAST(quantile_cont(value, 0.5) AS DOUBLE), 4) AS median_value
    FROM events
    GROUP BY event_type
    """,
)
def event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A4: counts, distinct counts, extrema, exact median (A3,
    eval_clusters.py:196 uses statistics.median)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias("sum_value"),
        F.round(F.sum(F.col("value").cast(DEC)).cast("double") / F.count("*"), 4).alias("avg_value"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("median_value"),
    )


@query(
    "top_event_per_user",
    oracle="""
    SELECT user_id, event_id, value FROM (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def top_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7/R8: argmax per group (grinch_alg.py:232-237 NN argmax;
    error_analysis.py:80-82 'worst cluster') with a total tiebreak."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.select("user_id", "event_id", "value", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "orders_by_month",
    oracle="""
    SELECT strftime(CAST(date_trunc('month', o_orderdate) AS DATE), '%Y-%m') AS order_month,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
    FROM orders
    GROUP BY 1
    """,
)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date bucketing (R6 sort-by-date, preprocess_medmentions.py:108).
    The month is emitted as a 'YYYY-MM' STRING: date-typed outputs
    render differently across pandas fetch paths (datetime.date
    objects vs datetime64 '... 00:00:00'), which hash-mismatches even
    when values agree."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast(DEC)).cast("double"), 2).alias("total_price"),
        )
    )


@query(
    "part_type_stats",
    oracle="""
    SELECT p_type, COUNT(*) AS n_parts,
           ROUND(CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_retail
    FROM part
    GROUP BY p_type
    HAVING COUNT(*) > 20
    """,
)
def part_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING-style post-aggregation filter (A2 singleton count idiom,
    scripts/unique_entities.py:13-14)."""
    part = load(spark, sf_dir, "part")
    return (
        part.groupBy("p_type")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.sum(F.col("p_retailprice").cast(DEC)).cast("double") / F.count("*"), 4).alias("avg_retail"),
        )
        .filter(F.col("n_parts") > 20)
    )


@query(
    "band_join_pairs",
    oracle="""
    SELECT a.event_type,
           COUNT(*) AS n_pairs,
           ROUND(CAST(SUM(abs(CAST(a.value AS DECIMAL(18,2)) - CAST(b.value AS DECIMAL(18,2)))) AS DOUBLE) / COUNT(*), 4) AS avg_abs_diff
    FROM events a
    JOIN (SELECT UNNEST(generate_series(1, 5)) AS k) offs ON TRUE
    JOIN events b ON b.event_id = a.event_id - offs.k AND b.event_type = a.event_type
    GROUP BY a.event_type
    """,
)
def band_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/C3: trailing-window band self-join (nn_thresh.py:27-41 links
    each mention to prior mentions within `limit`). Expressed as an
    offset-exploded EQUI-join so Spark plans a shuffled hash join
    instead of a O(n^2) nested-loop range join — the 100TB-safe shape."""
    ev = load(spark, sf_dir, "events")
    a = ev.select("event_id", "event_type", F.col("value").cast(DEC).alias("va")).withColumn(
        "k", F.explode(F.sequence(F.lit(1), F.lit(5)))
    )
    b = ev.select(
        F.col("event_id").alias("b_event_id"),
        F.col("event_type").alias("b_event_type"),
        F.col("value").cast(DEC).alias("vb"),
    )
    return (
        a.join(
            b,
            (F.col("b_event_id") == F.col("event_id") - F.col("k"))
            & (F.col("b_event_type") == F.col("event_type")),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.sum(F.abs(F.col("va") - F.col("vb"))).cast("double") / F.count("*"), 4).alias("avg_abs_diff"),
        )
    )


@query(
    "union_except_keys",
    oracle="""
    SELECT custkey FROM (
        SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        UNION
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
    )
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def union_except_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/J5: union + set difference (preprocess_zeshel.py:60-71 union;
    preprocess_kilt.py:56-58 difference)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    rich = cust.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("custkey"))
    big = orders.filter(F.col("o_totalprice") > 150000).select(F.col("o_custkey").alias("custkey"))
    failed = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return rich.union(big).distinct().subtract(failed)


@query(
    "intersect_event_customers",
    oracle="""
    SELECT user_id FROM (
        SELECT DISTINCT user_id FROM events
        INTERSECT
        SELECT DISTINCT c_custkey AS user_id FROM customer
            WHERE c_acctbal > 5000
    ) q
    """,
)
def intersect_event_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection (the one Layer-B set operation SURVEY §2.8
    lists as absent from the reference but free from Spark SQL —
    exposed like union/except): active event users that are also
    high-balance customers. Catalyst plans intersect as a left-semi
    join over distincts — same shuffle class as the EXCEPT sibling."""
    ev = load(spark, sf_dir, "events").select("user_id").distinct()
    rich = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("user_id"))
        .distinct()
    )
    return ev.intersect(rich)


@query(
    "props_json_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS n,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY 1
    """,
)
def props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-field projection (S10, preprocess_kilt.py:19-46 pulls
    meta.* out of nested JSON)."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy((k % 10).alias("k_bucket")).agg(
        F.count("*").alias("n"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "running_user_value",
    oracle="""
    SELECT event_id,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS cum_value
    FROM events
    WHERE user_id < 20
    """,
)
def running_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum window (A5 sweep building block; utils.py running
    accumulators A11)."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    return ev.select(
        "event_id",
        F.round(F.sum(F.col("value").cast(DEC)).over(w).cast("double"), 2).alias("cum_value"),
    )


@query(
    "unpivot_metric_stats",
    oracle="""
    WITH m AS (
      SELECT 'l_quantity' AS metric, l_quantity AS v FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT 'l_discount', l_discount FROM lineitem
      UNION ALL
      SELECT 'l_tax', l_tax FROM lineitem
    )
    SELECT metric, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS sum_r,
           ROUND(MIN(v), 2) AS min_r,
           ROUND(MAX(v), 2) AS max_r
    FROM m GROUP BY metric
    """,
)
def unpivot_metric_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) — the inverse of pivot_user_event_matrix and
    the remaining reshaping surface: four lineitem measure columns
    melt into (metric, value) rows via the native
    ``DataFrame.unpivot``, then one keyed aggregation profiles each
    metric. Catalyst lowers unpivot to ONE Expand (x4 rows) feeding a
    partial aggregate — one scan and one shuffle for all four
    profiles, vs four scans if each metric were aggregated separately
    (the same Expand economics as the rollup cube). The ORACLE is the
    independent four-way UNION ALL formulation, so the hash match
    proves the Expand lowering loses/duplicates nothing. Money sums
    follow the DECIMAL(18,2) registry rule; min/max round 2dp."""
    li = load(spark, sf_dir, "lineitem")
    m = li.unpivot(
        [],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "v",
    )
    return m.groupBy("metric").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum(F.col("v").cast("decimal(18,2)")).cast("double"), 2).alias(
            "sum_r"
        ),
        F.round(F.min("v"), 2).alias("min_r"),
        F.round(F.max("v"), 2).alias("max_r"),
    )


# --- Vocab ranking (R4), seen/unseen routing (J3/A12), collect_set, deterministic
# argmax via struct-max (R7), lag windows, percent_rank.


@query(
    "entity_vocab",
    oracle="""
    SELECT ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id) AS index,
           user_id AS entity_id, COUNT(*) AS count
    FROM events GROUP BY user_id
    """,
)
def entity_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4/S3: frequency-descending vocabulary with deterministic ties
    (build_entity_vocab core; preprocess_medmentions.py:70-75)."""
    from streaming_cdc_spark.operators.ranking import row_number_global

    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy(F.col("user_id").alias("entity_id")).agg(F.count("*").alias("count"))
    ranked = row_number_global(counts, [F.desc("count"), F.asc("entity_id")], "index")
    return ranked.select("index", "entity_id", "count")


@query(
    "seen_unseen_split",
    oracle="""
    WITH train_users AS (
        SELECT DISTINCT user_id FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
    ),
    test AS (SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-02 00:00:00')
    SELECT seen, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
    FROM (
        SELECT t.user_id,
               EXISTS (SELECT 1 FROM train_users u WHERE u.user_id = t.user_id) AS seen
        FROM test t
    ) GROUP BY seen
    """,
)
def seen_unseen_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/A12: route test events by membership of their entity in the
    train split (scripts/split_unseen.py:5-23) — semi/anti join
    composition expressed as one aggregation."""
    ev = load(spark, sf_dir, "events")
    cut = F.lit("2024-01-02 00:00:00").cast("timestamp")
    train_users = ev.filter(F.col("ts") < cut).select("user_id").distinct()
    test = ev.filter(F.col("ts") >= cut)
    seen = test.join(train_users.withColumnRenamed("user_id", "tu"),
                     F.col("user_id") == F.col("tu"), "left")
    return (
        seen.select("user_id", F.col("tu").isNotNull().alias("seen"))
        .groupBy("seen")
        .agg(F.count("*").alias("n_events"), F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "event_type_user_sets",
    oracle="""
    SELECT event_type,
           array_to_string(list_sort(list(DISTINCT user_id % 25)), ',') AS user_buckets
    FROM events GROUP BY event_type
    """,
)
def event_type_user_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set surface (S5 per-cluster sets, eval_clusters.py:186-195)
    serialized to a sorted CSV string for hash-stability."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.array_join(F.array_sort(F.collect_set(F.col("user_id") % 25)), ",").alias(
            "user_buckets"
        )
    )


@query(
    "top_type_per_user",
    oracle="""
    SELECT user_id, event_type AS top_type, value AS top_value FROM (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def top_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 argmax via struct-max: max(struct(value, event_id, type))
    picks the lexicographically largest (value, event_id) pair — a
    single aggregation, no window shuffle, fully deterministic."""
    ev = load(spark, sf_dir, "events")
    best = ev.groupBy("user_id").agg(
        F.max(F.struct("value", "event_id", "event_type")).alias("b")
    )
    return best.select(
        "user_id",
        F.col("b.event_type").alias("top_type"),
        F.col("b.value").alias("top_value"),
    )


@query(
    "event_gaps",
    oracle="""
    SELECT event_id, prev_event_id, gap_us FROM (
        SELECT event_id,
               LAG(event_id) OVER w AS prev_event_id,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
        FROM events WHERE user_id < 10
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ) WHERE prev_event_id IS NOT NULL
    """,
)
def event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag window over the event stream: inter-arrival gaps in exact
    microseconds (A5-adjacent sequencing surface)."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    out = ev.select(
        "event_id",
        F.lag("event_id").over(w).alias("prev_event_id"),
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
    )
    return out.filter(F.col("prev_event_id").isNotNull())


@query(
    "acctbal_percentiles",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           ROUND(PERCENT_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal), 6) AS pct_rank
    FROM customer WHERE c_custkey < 200
    """,
)
def acctbal_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank window (rank normalization — the reference's
    score-normalization idiom generalized)."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )
