"""Sequence, drift, interval and sketch analytics over the event
stream and the near-dup graph: Markov transition matrices, chi-square
category drift, point-in-interval coverage (the range-join workload),
k-core peeling, and the Misra-Gries mergeable heavy-hitter summary
under its theorem bound.

No reference counterpart (streaming-cdc links entities; it does not
profile event streams) — these are the stream-health / sequence-mining
operators the LLM-data-pipeline brief calls for, shaped for 100 TB:
every query is scan -> keyed aggregate -> (small) equi-joins; the only
non-equi join lives in the ORACLES (the independent naive BETWEEN
formulation that checks the linear unnest physical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from streaming_cdc_spark.queries.registry import query
from streaming_cdc_spark.tables import load


@query(
    "event_transition_matrix",
    oracle="""
    WITH o AS (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    n AS (
      SELECT prev AS src_type, event_type AS dst_type, COUNT(*) AS n
      FROM o WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    t AS (SELECT src_type, SUM(n) AS tot FROM n GROUP BY src_type)
    SELECT n.src_type, n.dst_type, CAST(n.n AS BIGINT) AS n,
           ROUND(CAST(n.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS p
    FROM n JOIN t USING (src_type)
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order MARKOV TRANSITION MATRIX of per-user event
    sequences — the sequence-mining primitive behind session modeling
    and next-action prediction. Each user's events are ordered by
    (ts, event_id) (event_id breaks timestamp ties — a total order,
    so the lag is deterministic); (prev, next) bigrams aggregate to
    counts and row-normalized probabilities. Physical: one per-user
    window (partitioned by user — millions of small partitions at
    scale, never a global sort) + one keyed count + one tiny per-type
    totals join; the probability is a single double division of exact
    BIGINTs, rounded identically on both engines."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("src_type"),
        F.col("event_type").alias("dst_type"),
    ).filter(F.col("src_type").isNotNull())
    n = pairs.groupBy("src_type", "dst_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    t = n.groupBy("src_type").agg(F.sum("n").alias("tot"))
    return n.join(t, "src_type").select(
        "src_type",
        "dst_type",
        "n",
        F.round(F.col("n").cast("double") / F.col("tot").cast("double"), 6).alias(
            "p"
        ),
    )


@query(
    "category_drift_chisq",
    oracle="""
    WITH cells AS (
      SELECT event_id % 2 AS split, event_type, COUNT(*) AS o
      FROM events GROUP BY 1, 2
    ),
    r AS (SELECT split, SUM(o) AS r FROM cells GROUP BY split),
    c AS (SELECT event_type, SUM(o) AS c FROM cells GROUP BY event_type),
    nn AS (SELECT SUM(o) AS n FROM cells),
    ct AS (
      SELECT cells.split, cells.event_type, cells.o,
             (CAST(r.r AS DOUBLE) * CAST(c.c AS DOUBLE)) / CAST(nn.n AS DOUBLE)
               AS e
      FROM cells JOIN r USING (split) JOIN c USING (event_type), nn
    ),
    q AS (
      SELECT split, event_type, o, e,
             CAST(ROUND((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e,
                        6) AS DECIMAL(18,6)) AS cq
      FROM ct
    ),
    tot AS (SELECT SUM(cq) AS chi2 FROM q)
    SELECT q.split, q.event_type, CAST(q.o AS BIGINT) AS observed,
           ROUND(q.e, 6) AS expected,
           CAST(q.cq AS DOUBLE) AS contrib,
           ROUND(CAST(tot.chi2 AS DOUBLE), 6) AS chi2_total
    FROM q, tot
    """,
)
def category_drift_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHI-SQUARE CATEGORY-DRIFT test between two halves of the event
    stream (split = event_id parity): the distribution-shift check a
    pipeline runs between a corpus snapshot and its refresh. All cell
    and margin counts are exact BIGINTs; each cell's expected value
    and contribution are ONE fixed-order double formula (the ari_score
    float pattern), and the chi-square TOTAL is the exact DECIMAL sum
    of the per-cell contributions quantized to 6 dp — quantize-then-
    exact-sum, so the cross-cell reduction is order-free under any
    partitioning (a raw double SUM over cells would hash-drift).
    Physical: one scan -> keyed cell counts (|splits| x |types| rows),
    margins by two tiny re-aggregations of the CELLS (never rescanning
    events), one-row scalar broadcasts for N and the total."""
    ev = load(spark, sf_dir, "events")
    # LAZY lineage cut (optimization r9 residual sweep): cells is the
    # tiny |splits| x |types| relation referenced FOUR times (r, c,
    # nn, q) — without the cut Catalyst re-inlines the events scan +
    # aggregate into every reference (8 scans in the final plan),
    # despite the docstring's "never rescanning events" contract.
    # Lazy, so the single final action materializes it once.
    cells = (
        ev.groupBy((F.col("event_id") % 2).alias("split"), "event_type")
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=False)
    )
    r = cells.groupBy("split").agg(F.sum("o").alias("r"))
    c = cells.groupBy("event_type").agg(F.sum("o").alias("c"))
    nn = cells.agg(F.sum("o").alias("n"))
    po = F.col("o").cast("double")
    e = (F.col("r").cast("double") * F.col("c").cast("double")) / F.col("n").cast(
        "double"
    )
    q = (
        cells.join(r, "split")
        .join(c, "event_type")
        .crossJoin(F.broadcast(nn))
        .withColumn("e", e)
        .withColumn(
            "cq",
            F.round((po - F.col("e")) * (po - F.col("e")) / F.col("e"), 6).cast(
                "decimal(18,6)"
            ),
        )
        # same cut for q: referenced by tot AND the final projection
        .localCheckpoint(eager=False)
    )
    tot = q.agg(F.sum("cq").alias("chi2"))
    return q.crossJoin(F.broadcast(tot)).select(
        "split",
        "event_type",
        F.col("o").cast("long").alias("observed"),
        F.round("e", 6).alias("expected"),
        F.col("cq").cast("double").alias("contrib"),
        F.round(F.col("chi2").cast("double"), 6).alias("chi2_total"),
    )


@query(
    "interval_coverage_counts",
    oracle="""
    WITH iv AS (
      SELECT CAST(l_shipdate AS DATE) AS d0,
             CAST(l_orderkey % 14 + 1 AS INTEGER) AS w, l_returnflag
      FROM lineitem
    ),
    b AS (SELECT MIN(d0) AS lo, MAX(d0 + to_days(w)) AS hi FROM iv),
    days AS (
      SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                         CAST(hi AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS dd
      FROM b
    )
    SELECT strftime(dd, '%Y-%m-%d') AS day, l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_covering
    FROM days JOIN iv ON days.dd BETWEEN iv.d0 AND iv.d0 + to_days(iv.w)
    GROUP BY 1, 2
    """,
)
def interval_coverage_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-INTERVAL coverage (operators/temporal.py:
    interval_coverage): each lineitem becomes a shipment validity
    window [shipdate, shipdate + (l_orderkey % 14 + 1) days], and the
    query counts, per calendar day and returnflag, how many windows
    cover that day. The engine side runs the LINEAR bounded-width
    physical (sequence + explode + hash count — zero joins); the
    oracle is the INDEPENDENT naive formulation, a day-domain BETWEEN
    range join — a hash match proves the unnest plan emits exactly
    the theta join's semantics. Days render as strings (DATE
    fetch-path rule)."""
    from streaming_cdc_spark.operators.temporal import interval_coverage

    li = load(spark, sf_dir, "lineitem").select(
        "l_shipdate",
        (F.col("l_orderkey") % 14 + 1).alias("w"),
        "l_returnflag",
    )
    return interval_coverage(li, "l_shipdate", "w", "l_returnflag")


def _kcore_sql(k: int = 2, rounds: int = 3) -> str:
    from streaming_cdc_spark.queries.cdc import _EDGES_SQL

    parts = [
        f"e0 AS (SELECT u, v FROM ({_EDGES_SQL}) WHERE sim > 0.3)",
        "sym0 AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"d{i} AS (SELECT u, COUNT(*) AS d FROM sym{i - 1} GROUP BY u)"
        )
        parts.append(f"k{i} AS (SELECT u FROM d{i} WHERE d >= {k})")
        parts.append(
            f"sym{i} AS (SELECT s.u, s.v FROM sym{i - 1} s "
            f"WHERE s.u IN (SELECT u FROM k{i}) "
            f"AND s.v IN (SELECT u FROM k{i}))"
        )
    return (
        "WITH " + ",\n    ".join(parts)
        + f"\n    SELECT u AS vec_id, CAST(COUNT(*) AS BIGINT) AS deg "
        f"FROM sym{rounds} GROUP BY u"
    )


@query("kcore_peel_rounds", oracle=_kcore_sql())
def kcore_peel_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE PEELING (operators/clustering.py: kcore_peel) of the
    tau=0.3 cosine near-dup graph: 3 synchronous rounds dropping every
    node of current degree < 2 with its edges. Survivors are the
    densely interlinked near-duplicate mass (template families), the
    triage complement to triangle_counts' cohesion signal. The fixed
    round count makes it SQL-replayable: the oracle unrolls the
    degree/keep/filter CTE triple per round verbatim. Per round one
    keyed count + two semi-joins — all equi-joins, skew-bounded by the
    graph's degeneracy, no driver state."""
    from streaming_cdc_spark.operators.clustering import kcore_peel
    from streaming_cdc_spark.operators.similarity import cosine_self_edges

    emb = load(spark, sf_dir, "embeddings")
    edges = cosine_self_edges(emb, 0.3).select("u", "v")
    return kcore_peel(edges, k=2, rounds=3)


_HH_K = 16  # Misra-Gries counters per partition/shard; bound = N div (k+1)

_HH_KEY_SQL = """
    CASE WHEN event_id % 11 = 5 THEN NULL
         WHEN event_id % 3 <> 0
         THEN 'hot' || CAST(event_id % 2 AS VARCHAR)
         ELSE 'u' || CAST(user_id AS VARCHAR) END
"""

# One oracle, two physicals (the cdc_streaming_apply pattern): the
# batch mapInPandas summary and the streaming sharded-ValueState twin
# both satisfy est <= true, true - est <= N div (k+1), so both emit
# the same exact counts + literal theorem bits.
_HH_ORACLE = f"""
    WITH raw AS (SELECT {_HH_KEY_SQL} AS key FROM events),
    keyed AS (SELECT key FROM raw WHERE key IS NOT NULL),
    n AS (SELECT key, COUNT(*) AS n FROM keyed GROUP BY key),
    tot AS (SELECT COUNT(*) AS total FROM keyed)
    SELECT key, CAST(n.n AS BIGINT) AS n,
           CAST(tot.total // {_HH_K + 1} AS BIGINT) AS bound,
           CAST(1 AS BIGINT) AS in_summary,
           CAST(1 AS BIGINT) AS within_bound
    FROM n, tot WHERE n.n > tot.total // {_HH_K + 1}
    """


def _hh_key_col():
    # event_id % 11 == 5 rows carry a NULL key: the driver
    # hash-verifies the sketches' NULL-exclusion semantics (the r6
    # latent-defect class) instead of leaving it unit-test-only —
    # NULL rows must vanish from counts, total, AND both summaries.
    return (
        F.when(F.col("event_id") % 11 == 5, F.lit(None).cast("string"))
        .when(
            F.col("event_id") % 3 != 0,
            F.concat(F.lit("hot"), (F.col("event_id") % 2).cast("string")),
        )
        .otherwise(F.concat(F.lit("u"), F.col("user_id").cast("string")))
    )


def _hh_assemble(keyed: DataFrame, summ: DataFrame) -> DataFrame:
    """Exact counts + theorem bits for every key above the MG bound,
    given the keyed stream and a merged (key, est) summary. NULL keys
    excluded, matching the sketch operators (a NULL group would count
    here, never appear in the summary, and break the bits)."""
    keyed = keyed.filter(F.col("key").isNotNull())
    exact = keyed.groupBy("key").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = keyed.agg(F.count(F.lit(1)).alias("total"))
    heavy = (
        exact.crossJoin(F.broadcast(tot))
        .withColumn("bound", F.expr(f"total div {_HH_K + 1}").cast("long"))
        .filter(F.col("n") > F.col("bound"))
    )
    j = heavy.join(summ, "key", "left")
    est = F.coalesce(F.col("est"), F.lit(0))
    return j.select(
        "key",
        "n",
        "bound",
        (est > 0).cast("long").alias("in_summary"),
        ((est <= F.col("n")) & (F.col("n") - est <= F.col("bound")))
        .cast("long")
        .alias("within_bound"),
    )


@query("heavy_hitters_bounds", oracle=_HH_ORACLE)
def heavy_hitters_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAVY HITTERS under the MISRA-GRIES theorem bound — the
    frequency-sketch row of the approx_distinct_bounds /
    approx_quantile_bounds pattern: the engine runs the real mergeable
    summary (operators/profile.py: misra_gries_summary, k=16 counters
    per partition, merged by one keyed SUM — never on the driver) over
    a skewed key stream (two planted hot keys carry ~2/3 of the rows;
    the ~|users| tail keys force real decrements in every partition),
    then surfaces, for every key whose EXACT count exceeds N div
    (k+1): the exact count, the bound, and two theorem BITS computed
    from the live sketch — present-in-summary (guaranteed: a key
    above the bound cannot be fully decremented away) and
    within-bound (est <= true and true - est <= N div (k+1)). The
    estimates themselves are arrival-order-dependent and never leave
    the query; the bits are invariant under any partitioning, so the
    oracle states them as literals — a sketch bug flips a bit and
    fails the hash."""
    from streaming_cdc_spark.operators.profile import misra_gries_summary

    ev = load(spark, sf_dir, "events")
    keyed = ev.select(_hh_key_col().alias("key"))
    summ = misra_gries_summary(keyed, "key", _HH_K)
    return _hh_assemble(keyed, summ)


@query("streaming_heavy_hitters", oracle=_HH_ORACLE)
def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING twin of heavy_hitters_bounds under the SAME
    oracle (the cdc_streaming_apply pattern — one oracle, two
    physicals): the event stream drains over four id-range
    micro-batches (maxFilesPerTrigger=1, mtime-pinned order) through
    streaming_misra_gries (streaming/windows.py) — a sharded
    applyInPandasWithState ValueState of at most k counters per shard
    FOREVER, carried across batches, so the final summary covers the
    whole stream, not the last batch. Each key lives in exactly one
    shard, whose decrements total <= n_shard/(k+1) <= N div (k+1) —
    the same theorem bound as the batch form, so the exact counts +
    literal bits hash-match identically. Final state = the max
    batch_idx row-set per shard; estimates never reach the output."""
    from streaming_cdc_spark.session import (
        drain_stream,
        id_range_splits,
        replay_stream,
    )
    from streaming_cdc_spark.streaming.windows import streaming_misra_gries

    keyed_batch = load(spark, sf_dir, "events").select(
        "event_id", _hh_key_col().alias("key")
    )
    stream = replay_stream(
        spark,
        ("hhst", sf_dir),
        lambda: id_range_splits(keyed_batch, "event_id", 4),
    )
    out = streaming_misra_gries(
        stream, key_col="key", id_col="event_id", k=_HH_K, n_shards=8
    )
    emitted = drain_stream(out, "hhst")
    last = emitted.groupBy("shard").agg(F.max("batch_idx").alias("batch_idx"))
    summ = emitted.join(last, ["shard", "batch_idx"]).select("key", "est")
    return _hh_assemble(keyed_batch.select("key"), summ)


@query(
    "collocation_pmi",
    oracle="""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    uni AS (SELECT u.w AS w FROM toks, UNNEST(t) AS u(w)),
    ua AS (SELECT w, COUNT(*) AS n FROM uni GROUP BY w),
    nn AS (SELECT COUNT(*) AS n_tok FROM uni),
    bg AS (SELECT t[i] AS w1, t[i + 1] AS w2
           FROM toks, UNNEST(range(1, greatest(len(t), 2))) AS u(i)
           WHERE i + 1 <= len(t)),
    bc AS (SELECT w1, w2, COUNT(*) AS n_ab FROM bg GROUP BY 1, 2),
    bb AS (SELECT COUNT(*) AS n_bg FROM bg),
    f AS (SELECT bc.w1, bc.w2, bc.n_ab, a.n AS n_a, b.n AS n_b
          FROM bc JOIN ua a ON bc.w1 = a.w JOIN ua b ON bc.w2 = b.w
          WHERE bc.n_ab >= 5),
    s AS (SELECT w1, w2, n_ab, n_a, n_b,
                 ((CAST(n_ab AS DOUBLE) * CAST(nn.n_tok AS DOUBLE))
                   * CAST(nn.n_tok AS DOUBLE))
                 / ((CAST(bb.n_bg AS DOUBLE) * CAST(n_a AS DOUBLE))
                    * CAST(n_b AS DOUBLE)) AS pmi
          FROM f, nn, bb)
    SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab, CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b, ROUND(pmi, 6) AS pmi_ratio, rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS rank
          FROM s)
    WHERE rank <= 50
    """,
)
def collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 COLLOCATIONS by PMI ratio (operators/text.py:
    collocation_pmi — Church & Hanks '90) over the documents corpus:
    frequent bigrams scored by p(ab)/(p(a)p(b)) as one fixed-order
    double formula over exact BIGINT counts (no ln() — the ari_score
    cross-engine determinism rule), ranked with the two-pass global
    row number and a total (pmi DESC, w1, w2) order."""
    from streaming_cdc_spark.operators.text import collocation_pmi as op

    return op(load(spark, sf_dir, "documents"), top_n=50, min_count=5)


_GAP_LIMIT_US = 7 * 86400 * 1_000_000  # attribution window: 7 days


@query(
    "purchase_attribution",
    oracle=f"""
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts
               FROM events WHERE event_type = 'purchase'),
    c0 AS (SELECT user_id, ts, event_id FROM events
           WHERE event_type = 'click'),
    c AS (SELECT user_id, ts, MAX(event_id) AS click_id
          FROM c0 GROUP BY user_id, ts),
    j AS (SELECT p.purchase_id, p.user_id, c.click_id,
                 epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
          FROM p ASOF JOIN c
            ON p.user_id = c.user_id AND p.ts >= c.ts)
    SELECT purchase_id, user_id, click_id,
           CAST(gap_us // 1000000 AS BIGINT) AS gap_s
    FROM j WHERE gap_us <= {_GAP_LIMIT_US}
    """,
)
def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH ATTRIBUTION — the marketing-analytics as-of variant:
    each purchase attributes to the same user's most recent click at
    or before it, within a 7-day window. Typed event predicates make
    this distinct from the plain as-of join: both sides are FILTERED
    slices of one event stream. Engine side reuses asof_join (the
    union+window single-shuffle strategy; same-instant click ties go
    to the max event_id — mirrored by the oracle's per-(user, ts)
    argmax); the oracle is DuckDB's NATIVE ASOF JOIN, an independent
    formulation. Gap reported in whole seconds (integer division —
    no float time arithmetic)."""
    from streaming_cdc_spark.operators.temporal import asof_join

    ev = load(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    j = asof_join(
        purch,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload_cols=["click_id", "click_ts"],
    )
    gap_us = F.unix_micros("ts") - F.unix_micros("click_ts")
    return (
        j.withColumn("_gap_us", gap_us)
        .filter(F.col("_gap_us") <= _GAP_LIMIT_US)
        .select(
            "purchase_id",
            "user_id",
            "click_id",
            F.expr("_gap_us div 1000000").cast("long").alias("gap_s"),
        )
    )


@query(
    "value_histogram_bins",
    oracle="""
    WITH v AS (SELECT CAST(value AS DOUBLE) AS v FROM events
               WHERE value IS NOT NULL),
    s AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM v),
    b AS (SELECT CASE WHEN s.mx = s.mn THEN 0
                 ELSE least(CAST(floor((v.v - s.mn) / ((s.mx - s.mn) / 20.0))
                                 AS BIGINT), 19) END AS bin,
                 s.mn, s.mx
          FROM v, s),
    g AS (SELECT bin, COUNT(*) AS n, MIN(mn) AS mn, MAX(mx) AS mx
          FROM b GROUP BY bin)
    SELECT CAST(bin AS BIGINT) AS bin,
           ROUND(mn + CAST(bin AS DOUBLE) * ((mx - mn) / 20.0), 6) AS bin_lo,
           ROUND(mn + (CAST(bin AS DOUBLE) + 1.0) * ((mx - mn) / 20.0), 6)
             AS bin_hi,
           CAST(n AS BIGINT) AS n
    FROM g
    """,
)
def value_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bin EQUI-WIDTH HISTOGRAM of event values
    (operators/profile.py: numeric_histogram): global min/max as a
    one-row scalar broadcast, per-row bin assignment by one
    fixed-order double formula (right edge clamped into the last
    bin), one keyed count. The numeric-distribution profiling row
    next to column_profile's null/distinct counts."""
    from streaming_cdc_spark.operators.profile import numeric_histogram

    return numeric_histogram(load(spark, sf_dir, "events"), "value", 20)


def _ra_sql(top_n: int = 100, unit: int = 1_000_000, cap: int = 16) -> str:
    from streaming_cdc_spark.queries.cdc import _EDGES_SQL

    return f"""
    WITH e0 AS (SELECT u, v FROM ({_EDGES_SQL}) WHERE sim > 0.3),
    sym AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
    deg AS (SELECT u AS w, COUNT(*) AS d FROM sym GROUP BY u),
    ctr AS (SELECT w FROM deg WHERE d <= {cap}),
    symc AS (SELECT s.u, s.v FROM sym s JOIN ctr ON s.u = ctr.w),
    wd AS (SELECT s1.u AS w, s1.v AS a, s2.v AS b
           FROM symc s1 JOIN symc s2 ON s1.u = s2.u AND s1.v < s2.v),
    sc AS (SELECT a, b, CAST(SUM({unit} // deg.d) AS BIGINT) AS score_micro
           FROM wd JOIN deg ON wd.w = deg.w GROUP BY a, b),
    fl AS (SELECT sc.a, sc.b, sc.score_micro,
                  CASE WHEN e0.u IS NULL THEN 0 ELSE 1 END AS linked
           FROM sc LEFT JOIN e0 ON e0.u = sc.a AND e0.v = sc.b)
    SELECT a AS u, b AS v, score_micro, CAST(linked AS BIGINT) AS linked, rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score_micro DESC, a, b) AS rank
          FROM fl)
    WHERE rank <= {top_n}
    """


@query("resource_allocation_links", oracle=_ra_sql())
def resource_allocation_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 RESOURCE-ALLOCATION link predictions
    (operators/clustering.py: resource_allocation_links) over the
    tau=0.3 cosine near-dup graph: common-neighbor mass weighted by
    1/deg(hub) in exact integer micro-units (no ln() — the
    Adamic-Adar variant that stays bit-identical cross-engine), with
    existing edges flagged so the non-edge rows are the link
    PREDICTIONS. Registered WITH the max_center_degree=16 hub cap —
    fixed-tau near-dup graphs DENSIFY as the corpus grows (sf0.01
    median degree 4 → sf0.1 median 15), so uncapped wedge volume is
    superlinear in corpus size (measure_shuffle caught alpha 1.21);
    the cap bounds it at n·C(cap,2), restoring linear shuffle growth,
    and super-hub centers contribute the least RA mass (1/deg) anyway
    — the same recall-trading dial as cap_shingle_df. The oracle
    mirrors the cap and re-derives the wedge sum and flag
    independently with plain joins."""
    from streaming_cdc_spark.operators.clustering import (
        resource_allocation_links as op,
    )
    from streaming_cdc_spark.operators.similarity import cosine_self_edges

    emb = load(spark, sf_dir, "embeddings")
    edges = cosine_self_edges(emb, 0.3).select("u", "v")
    return op(edges, top_n=100, max_center_degree=16)


def _coverage_sql(k: int = 3) -> str:
    from streaming_cdc_spark.queries.dedup import _SHINGLES

    parts = [_SHINGLES.strip().rstrip(), "s0 AS (SELECT doc_id, shingle FROM sh)"]
    finals = []
    for r in range(1, k + 1):
        parts.append(
            f"g{r} AS (SELECT doc_id, COUNT(*) AS gain FROM s{r - 1} GROUP BY doc_id)"
        )
        parts.append(
            f"p{r} AS (SELECT doc_id, CAST(gain AS BIGINT) AS gain FROM "
            f"(SELECT *, ROW_NUMBER() OVER (ORDER BY gain DESC, doc_id) AS rn "
            f"FROM g{r}) WHERE rn = 1)"
        )
        parts.append(
            f"s{r} AS (SELECT s.doc_id, s.shingle FROM s{r - 1} s "
            f"WHERE s.shingle NOT IN "
            f"(SELECT sh.shingle FROM sh JOIN p{r} USING (doc_id)))"
        )
        finals.append(
            f"SELECT CAST({r} AS BIGINT) AS pick_round, doc_id, gain FROM p{r}"
        )
    return "WITH " + ",\n    ".join(parts) + "\n    " + "\n    UNION ALL ".join(finals)


@query("greedy_coverage_docs", oracle=_coverage_sql())
def greedy_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY MAX-COVERAGE document selection
    (operators/sampling.py: greedy_max_coverage): the three documents
    that jointly cover the most distinct word-3-gram shingles — the
    (1-1/e) submodular greedy behind coverage-based training-data
    subset selection. Shingle keys are the hashed 8-byte form
    (injectivity pinned by tests/test_dedup.py), the oracle replays
    the three rounds on the string shingles — a hash match proves the
    round-by-round marginal-gain argmaxes coincide."""
    from streaming_cdc_spark.operators.dedup import exploded_shingles
    from streaming_cdc_spark.operators.sampling import greedy_max_coverage

    docs = load(spark, sf_dir, "documents")
    sh = exploded_shingles(docs, hashed=True)
    return greedy_max_coverage(sh, "doc_id", "shingle", k=3)


@query(
    "label_centroid_outliers",
    oracle="""
    WITH d AS (
      SELECT vec_id, CAST(label AS BIGINT) AS label, u.i AS dim,
             CAST(ROUND(CAST(embedding[u.i] AS DOUBLE) * 1000000.0, 0)
                  AS BIGINT) + 1000000 AS qv
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
    ),
    s AS (SELECT label, dim, SUM(qv) AS s, COUNT(*) AS n
          FROM d GROUP BY label, dim),
    c AS (SELECT label, dim, s // n AS c FROM s),
    dist AS (SELECT d.vec_id, d.label,
                    SUM((d.qv - c.c) * (d.qv - c.c)) AS dist_q
             FROM d JOIN c USING (label, dim) GROUP BY d.vec_id, d.label)
    SELECT label, vec_id, CAST(dist_q AS BIGINT) AS dist_q, rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                                       ORDER BY dist_q DESC, vec_id) AS rank
          FROM dist)
    WHERE rank <= 5
    """,
)
def label_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label EMBEDDING OUTLIERS (operators/ann.py:
    centroid_outliers): the 5 vectors farthest from their label's
    integer-quantized centroid — micro-unit quantization + a
    non-negativity shift make the centroid mean and squared distances
    EXACT integers (Spark div truncates, DuckDB // floors; they only
    agree on non-negatives — the shift is what buys cross-engine
    parity), so the whole op is order-free under any partitioning.
    The embedding-hygiene row: prune these before computing corpus
    statistics."""
    from streaming_cdc_spark.operators.ann import centroid_outliers

    return centroid_outliers(load(spark, sf_dir, "embeddings"), top_k=5)


def _ppr_sql(
    iterations: int = 3, unit: int = 1_000_000, dp: int = 85, seed_mod: int = 10
) -> str:
    from streaming_cdc_spark.queries.cdc import _EDGES_SQL

    base = (100 - dp) * unit // 100
    seed = f"u % {seed_mod} = 0"
    parts = [
        f"e0 AS (SELECT u, v FROM ({_EDGES_SQL}) WHERE sim > 0.3)",
        "edges AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0)",
        "deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u)",
        f"r0 AS (SELECT u, CAST(CASE WHEN {seed} THEN {unit} ELSE 0 END "
        f"AS BIGINT) AS r FROM deg)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"c{i} AS (SELECT e.v, SUM(r.r // dg.d) AS s FROM edges e "
            f"JOIN r{i - 1} r ON e.u = r.u JOIN deg dg ON e.u = dg.u GROUP BY e.v)"
        )
        parts.append(
            f"r{i} AS (SELECT dg.u, CAST(CASE WHEN dg.u % {seed_mod} = 0 "
            f"THEN {base} ELSE 0 END + ({dp} * COALESCE(c.s, 0)) // 100 "
            f"AS BIGINT) AS r FROM deg dg LEFT JOIN c{i} c ON dg.u = c.v)"
        )
    return (
        "WITH " + ",\n    ".join(parts)
        + f"\n    SELECT u AS vec_id, r AS rank_micro FROM r{iterations}"
    )


@query("personalized_pagerank", oracle=_ppr_sql())
def personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank / random walk with restart (Jeh & Widom
    '03) over the tau=0.3 cosine near-dup graph, seeded at vec_id %
    10 == 0: teleport mass and initial rank go ONLY to the seed set,
    so rank measures proximity TO THE SEEDS — the graph-based
    relevance-expansion primitive ("find documents similar to this
    curated set") that uniform PageRank cannot express. Same exact
    integer micro-unit arithmetic and unrolled-CTE oracle as
    pagerank_neardup_graph (operators/clustering.py: pagerank_exact
    with seed_pred)."""
    from streaming_cdc_spark.operators.clustering import pagerank_exact
    from streaming_cdc_spark.operators.similarity import cosine_self_edges

    emb = load(spark, sf_dir, "embeddings")
    edges = cosine_self_edges(emb, 0.3).select("u", "v")
    return pagerank_exact(edges, iterations=3, seed_pred=F.col("u") % 10 == 0)


@query(
    "event_path_trigrams",
    oracle="""
    WITH o AS (
      SELECT event_type,
             lag(event_type, 2) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS s1,
             lag(event_type, 1) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS s2
      FROM events
    ),
    n AS (SELECT s1, s2, event_type AS s3, COUNT(*) AS n
          FROM o WHERE s1 IS NOT NULL GROUP BY 1, 2, 3)
    SELECT s1, s2, s3, CAST(n AS BIGINT) AS n, rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, s1, s2, s3) AS rank
          FROM n)
    WHERE rank <= 20
    """,
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-20 THREE-STEP PATHS through the event stream — the
    path-analysis extension of event_transition_matrix: per-user
    (ts, event_id)-ordered trigrams of event types, globally ranked
    by frequency under the total (n DESC, s1, s2, s3) order. Physical:
    the SAME per-user window evaluates both lags (one sort, two
    offsets), one keyed count (|types|^3 rows at most), then the
    two-pass global rank."""
    from streaming_cdc_spark.operators.ranking import row_number_global

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        F.lag("event_type", 2).over(w).alias("s1"),
        F.lag("event_type", 1).over(w).alias("s2"),
        F.col("event_type").alias("s3"),
    ).filter(F.col("s1").isNotNull())
    n = o.groupBy("s1", "s2", "s3").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return row_number_global(
        n, [F.desc("n"), F.asc("s1"), F.asc("s2"), F.asc("s3")], "rank"
    ).filter(F.col("rank") <= 20)


_WMED_ORACLE = """
    WITH k AS (
      SELECT event_type, value, event_id,
             CAST(user_id % 5 + 1 AS BIGINT) AS wt
      FROM events WHERE value IS NOT NULL
    ),
    c AS (
      SELECT event_type, value, event_id, wt,
             SUM(wt) OVER (PARTITION BY event_type
                           ORDER BY value, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
      FROM k
    ),
    t AS (SELECT event_type, SUM(wt) AS tot FROM k GROUP BY event_type),
    x AS (
      SELECT c.event_type, c.value, c.event_id, t.tot
      FROM c JOIN t USING (event_type)
      WHERE c.cum * 2 >= t.tot
    )
    SELECT event_type, ROUND(value, 2) AS weighted_median,
           CAST(tot AS BIGINT) AS tot_weight
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY value, event_id) AS rn
          FROM x)
    WHERE rn = 1
    """


@query("weighted_median_value", oracle=_WMED_ORACLE)
def weighted_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED MEDIAN of event value per type (weight =
    user_id % 5 + 1 — an integer importance weight): the smallest
    value whose cumulative weight reaches half the total, under the
    deterministic (value, event_id) order. The weighted twin of the
    exact-median row (A3): one per-type cumulative-sum window, a
    per-type totals join (no nested windows — the DuckDB rule), and a
    first-crossing row_number. All weight arithmetic is exact
    BIGINT; the only float is the reported value itself. NULL values
    are filtered on BOTH sides (Spark sorts NULLS FIRST ascending,
    DuckDB NULLS LAST — an unfiltered nullable sort key would diverge
    if testdata ever regenerates with NULLs; re-verify on regen)."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    k = ev.select(
        "event_type",
        "value",
        "event_id",
        (F.col("user_id") % 5 + 1).cast("long").alias("wt"),
    )
    wcum = (
        W.partitionBy("event_type")
        .orderBy("value", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = k.withColumn("cum", F.sum("wt").over(wcum))
    t = k.groupBy("event_type").agg(F.sum("wt").cast("long").alias("tot"))
    x = c.join(t, "event_type").filter(F.col("cum") * 2 >= F.col("tot"))
    wrn = W.partitionBy("event_type").orderBy("value", "event_id")
    return (
        x.withColumn("rn", F.row_number().over(wrn))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.round("value", 2).alias("weighted_median"),
            F.col("tot").alias("tot_weight"),
        )
    )


@query(
    "equidepth_histogram",
    oracle="""
    WITH o AS (
      SELECT value, row_number() OVER (ORDER BY value, event_id) AS rn,
             COUNT(*) OVER () AS n
      FROM events WHERE value IS NOT NULL
    ),
    b AS (SELECT value, ((rn - 1) * 10) // n AS bin FROM o)
    SELECT CAST(bin AS BIGINT) AS bin,
           ROUND(MIN(value), 2) AS lo,
           ROUND(MAX(value), 2) AS hi,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM b GROUP BY bin
    """,
)
def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH (quantile-bin) HISTOGRAM of event values — the
    equi-WIDTH sibling is value_histogram_bins; equi-depth is what
    optimizers and drift monitors actually keep (each bin holds n/10
    rows, so bin boundaries ARE the deciles). Physical: the two-pass
    rank (operators/ranking.row_number_global — range exchange +
    partition offsets, never a single-partition window) assigns
    global ranks, bin = (rn-1)*10 div n is pure integer arithmetic,
    then one keyed aggregate. Ties across a bin edge split
    deterministically by the (value, event_id) total order on both
    engines. NULLs filtered both sides (the weighted_median rule).
    At 100 TB: one range exchange + one groupBy(10 keys) — the same
    shape as a terasort sample pass."""
    from streaming_cdc_spark.operators.ranking import row_number_global

    ev = (
        load(spark, sf_dir, "events")
        .select("event_id", "value")
        .filter(F.col("value").isNotNull())
        .localCheckpoint()
    )
    ranked = row_number_global(ev, ["value", "event_id"], "rn")
    n_df = ev.agg(F.count(F.lit(1)).alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(n_df))
        .withColumn("bin", F.expr("(rn - 1) * 10 div _n"))
        .groupBy("bin")
        .agg(
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .select("bin", "lo", "hi", "n_rows")
    )


@query(
    "rollup_revenue_cube",
    oracle="""
    SELECT CASE WHEN GROUPING(r.r_name) = 1 THEN '(all)'
                ELSE r.r_name END AS region_name,
           CASE WHEN GROUPING(n.n_name) = 1 THEN '(all)'
                ELSE n.n_name END AS nation_name,
           CAST(GROUPING(r.r_name) * 2 + GROUPING(n.n_name) AS BIGINT)
               AS lvl,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                 AS DOUBLE), 2) AS revenue_r
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def rollup_revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIERARCHICAL ROLLUP aggregation (region -> nation -> grand
    total) — the OLAP grouping-sets surface: one scan produces all
    three aggregation levels with GROUPING markers (lvl 0 = leaf,
    1 = per-region subtotal, 3 = grand total), exactly Spark's
    df.rollup == SQL GROUP BY ROLLUP. Catalyst expands the rollup
    into one Expand + one aggregate — a single shuffle for all
    levels, vs three scans if the levels were unioned by hand
    (.explain shows one Exchange). Rollup NULL markers are decoded to
    '(all)' via GROUPING (not the key's own NULL-ness) on both
    engines, so NULL-keyed data can't fake a subtotal row. Money sums
    follow the DECIMAL(18,2) registry rule. Joins: orders->customer->
    nation->region — the two dims broadcast (plans/ tests pin the
    revenue_by_nation pattern)."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    j = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    g = j.rollup("r_name", "n_name").agg(
        F.grouping_id().cast("long").alias("lvl"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
        ).alias("revenue_r"),
    )
    # decode via the GROUPING bits (lvl), not the key's own NULL-ness:
    # a genuinely NULL-named leaf must never render as a subtotal row
    return g.select(
        F.when(F.col("lvl").bitwiseAND(2) == 2, F.lit("(all)"))
        .otherwise(F.col("r_name"))
        .alias("region_name"),
        F.when(F.col("lvl").bitwiseAND(1) == 1, F.lit("(all)"))
        .otherwise(F.col("n_name"))
        .alias("nation_name"),
        "lvl",
        "n_orders",
        "revenue_r",
    )


@query("weighted_median_banded", oracle=_WMED_ORACLE)
def weighted_median_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE twin of weighted_median_value under the SAME oracle
    (the threshold_cc_distributed / ivm_hotkey_sums pattern — force
    the 100 TB physical so the driver hash-verifies IT): the direct
    form's cum-sum window partitions by event_type, and with FIVE
    types one sort task owns a fifth of the corpus — at 100 TB that
    task owns 20 TB. grouped_weighted_median (operators/ranking.py)
    bands values first (floor(value) here: ~100 bands), reduces to a
    tiny (type, band) prefix-weight relation, and row-ranks ONLY the
    crossing band — every window partition is band-bounded. The hash
    match against the direct formulation's oracle proves band-prefix
    + in-band rank selection equals the global cum-sum rule,
    boundary ties included."""
    from streaming_cdc_spark.operators.ranking import grouped_weighted_median

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    k = ev.select(
        "event_type",
        "value",
        "event_id",
        (F.col("user_id") % 5 + 1).cast("long").alias("wt"),
    )
    m = grouped_weighted_median(
        k, ["event_type"], "value", "event_id", "wt"
    )
    return m.select(
        "event_type",
        F.round("median_value", 2).alias("weighted_median"),
        F.col("tot_weight"),
    )


@query(
    "count_min_replay",
    oracle=f"""
    WITH raw AS (SELECT {_HH_KEY_SQL} AS key FROM events),
    keyed AS (SELECT key, COUNT(*) AS n FROM raw
              WHERE key IS NOT NULL GROUP BY key),
    dd AS (SELECT unnest(generate_series(0, 2)) AS d),
    h AS (
      SELECT k.key, k.n, dd.d,
             CAST(concat('0x', substr(md5(concat('cm', dd.d, ':', k.key)),
                                      1, 15)) AS BIGINT) % 32 AS cell
      FROM keyed k, dd
    ),
    cells AS (SELECT d, cell, SUM(n) AS cn FROM h GROUP BY d, cell)
    SELECT h.key, CAST(h.n AS BIGINT) AS n,
           CAST(MIN(c.cn) AS BIGINT) AS est,
           CAST(MIN(c.cn) - h.n AS BIGINT) AS overcount
    FROM h JOIN cells c ON h.d = c.d AND h.cell = c.cell
    GROUP BY h.key, h.n
    """,
)
def count_min_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN sketch with the ENTIRE sketch hash-verified
    (operators/profile.py: count_min_summary, width 32 x depth 3,
    md5-salted rows) over the heavy-hitters key fixture (two planted
    hot keys, a user-sized tail, NULL keys excluded): every cell is
    an exact SUM over a deterministic hash partition, so the oracle
    replays the full table and the estimate — (key, n, est,
    overcount) all hash-compared, est >= n by construction and the
    collision overcounting itself is part of the checked output
    (width 32 against ~150+ tail keys FORCES collisions: the sketch's
    probabilistic behavior is exercised, not avoided). Fourth sketch
    family row (MG / GK / HLL-bound siblings), and the only one whose
    estimator — not just its theorem bound — is SQL-checkable."""
    from streaming_cdc_spark.operators.profile import count_min_summary

    ev = load(spark, sf_dir, "events")
    keyed = ev.select(_hh_key_col().alias("key"))
    return count_min_summary(keyed, "key", width=32, depth=3)


_ETYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "pivot_user_event_matrix",
    oracle=f"""
    SELECT user_id % 100 AS ubucket,
           {", ".join(
               f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT)"
               f" AS n_{t}" for t in _ETYPES)},
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2)))
                      FILTER (WHERE event_type = 'purchase') AS DOUBLE), 2)
             AS purchase_value_r
    FROM events GROUP BY 1
    """,
)
def pivot_user_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (long -> wide) via Spark's native `groupBy().pivot()`
    with EXPLICIT values — the one-pass form: without the value list
    Spark runs an extra distinct-collect job, and at 100 TB the wide
    schema must be static anyway (the oracle's column set is). One
    shuffle produces the whole user-bucket x event-type count matrix
    plus a pivoted DECIMAL money sum (the registry float rule inside
    a pivot cell). Missing cells are 0/NULL-coalesced identically on
    both engines. The event-type vocabulary is pinned
    (click/error/purchase/signup/view — re-verify on testdata regen;
    a new type would land in no column on BOTH engines by
    construction, keeping the hash honest)."""
    ev = load(spark, sf_dir, "events")
    g = (
        ev.groupBy((F.col("user_id") % 100).alias("ubucket"))
        .pivot("event_type", _ETYPES)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
        )
    )
    cols = [F.col("ubucket")]
    for t in _ETYPES:
        cols.append(F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("long").alias(f"n_{t}"))
    cols.append(
        F.round(F.col("purchase_sv").cast("double"), 2).alias("purchase_value_r")
    )
    return g.select(*cols)


@query(
    "hopping_window_counts",
    oracle="""
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS tus FROM events
    ),
    -- each event belongs to exactly two 2h-hop windows of a 4h width:
    -- window starts at floor(t/hop)*hop and (floor(t/hop)-1)*hop
    w2 AS (
      SELECT event_type,
             (tus // 7200000000 - k) * 7200000000 AS win_start_us
      FROM e, (SELECT unnest([0, 1]) AS k) kk
      WHERE tus - ((tus // 7200000000 - k) * 7200000000) < 14400000000
    )
    SELECT win_start_us, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM w2 GROUP BY 1, 2
    """,
)
def hopping_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOPPING (sliding) event-time windows — width 4h, hop 2h — via
    Spark's native `F.window(ts, '4 hours', '2 hours')`: each event
    lands in exactly width/hop = 2 overlapping windows, the third
    window kind after tumbling (watermarked_daily_counts) and session
    (streaming_sessions_finalized). The oracle derives membership
    arithmetically in epoch micros (window starts are the hop-aligned
    grid points within width of the event — the same rule Spark's
    Expand generates), so the hash checks Spark's window assignment
    itself. Physical: one Expand (x2 rows) + one keyed count — no
    joins, no Python."""
    ev = load(spark, sf_dir, "events")
    g = (
        ev.groupBy(
            F.window("ts", "4 hours", "2 hours").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return g.select(
        F.unix_micros("w.start").alias("win_start_us"), "event_type", "n"
    )


@query(
    "user_range_frame_sums",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) // 1000000 AS tsec,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events WHERE value IS NOT NULL
    )
    SELECT user_id, event_id,
           ROUND(CAST(SUM(v) OVER (
             PARTITION BY user_id ORDER BY tsec
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
             AS trailing_7d_sum
    FROM e
    """,
)
def user_range_frame_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-BASED (RANGE) window frame — the third frame kind after
    ROWS frames and growing frames: each event's trailing-7-day value
    sum per user, frame bounded by the ORDER-BY VALUE (epoch seconds)
    rather than row offsets. RANGE frames include ALL peers of the
    current row's sort value on both engines, so timestamp ties are
    frame-deterministic BY SEMANTICS — the reason this query needs no
    event_id tiebreak (a ROWS frame with ties would be
    partition-order-dependent and could never hash-match). Sums in
    DECIMAL, rounded once at the edge. Physical: per-user window
    partitions (user-bounded), RangeFrame evaluated in one pass over
    each sorted partition."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    e = ev.select(
        "user_id",
        "event_id",
        # integer div — a double divide could round across a second
        # boundary before the cast truncates
        F.expr("unix_micros(ts) div 1000000").alias("tsec"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("tsec")
        .rangeBetween(-604800, W.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.round(F.sum("v").over(w).cast("double"), 2).alias("trailing_7d_sum"),
    )


@query(
    "value_trend_slope",
    oracle="""
    WITH m AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                      AS DECIMAL(18,0))) AS sx,
             SUM(CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                      AS DECIMAL(18,0))
                 * CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                        AS DECIMAL(18,0))) AS sxx,
             SUM(CAST(value AS DECIMAL(18,6))) AS sy,
             SUM(CAST(value AS DECIMAL(18,6))
                 * CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                        AS DECIMAL(18,0))) AS sxy
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           ROUND(
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
             6
           ) AS slope_r,
           ROUND(
             (CAST(sy AS DOUBLE)
              - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE),
             6
           ) AS intercept_r
    FROM m
    """,
)
def value_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS TIME-TREND fit (is this metric drifting?) from
    EXACT MOMENTS — the exact_moment_corr pattern extended to the
    regression coefficients: x = days-since-epoch of the event date
    (exact integer, accumulated as DECIMAL(18,0) so a 10^12-row scan
    cannot overflow the BIGINT sum the way SUM(long) would under
    ANSI), y = value as DECIMAL(18,6). The four sums are order-free
    monoid accumulators; slope = (n*sxy - sx*sy)/(n*sxx - sx^2) and
    intercept = (sy - slope*sx)/n are single double expressions over
    those exact inputs, identical term order on both engines, rounded
    6dp. The built-in regr_slope streams float partials whose merge
    order varies with partitioning — the silent-divergence class
    check_invariance exists for. One keyed aggregation, no joins."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    x = F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("decimal(18,0)")
    y = F.col("value").cast("decimal(18,6)")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(y).alias("sy"),
        F.sum(y * x).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    return m.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope_r"),
        F.round((sy - slope * sx) / nd, 6).alias("intercept_r"),
    )


@query(
    "basket_part_pairs",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem
    ),
    items AS (SELECT item, COUNT(*) AS n_i FROM baskets GROUP BY item),
    freq AS (SELECT item, n_i FROM items WHERE n_i >= 2),
    fb AS (
      SELECT b.okey, b.item, f.n_i FROM baskets b JOIN freq f USING (item)
    ),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b,
             a.n_i AS n_a, b.n_i AS n_b, COUNT(*) AS support
      FROM fb a JOIN fb b ON a.okey = b.okey AND a.item < b.item
      GROUP BY 1, 2, 3, 4
    ),
    tot AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM baskets)
    SELECT item_a, item_b, CAST(support AS BIGINT) AS support,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ROUND(CAST(support AS DOUBLE) * CAST(n_orders AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS lift_r
    FROM pairs, tot WHERE support >= 2
    """,
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FREQUENT-ITEMSET mining (Apriori level 2) over order baskets:
    items are the distinct parts of each order, and the query emits
    every part pair co-occurring in >= 2 orders with its support,
    per-item supports, and lift. The Apriori anti-monotonicity prune
    is the scale move: items below the support floor are removed by a
    keyed semi-join BEFORE pair generation (a pair of an infrequent
    item can never be frequent), so the quadratic step runs on the
    pruned baskets only. Pair generation is a SELF-JOIN CO-PARTITIONED
    ON THE BASKET KEY — per-basket work is C(|basket|, 2) with basket
    size bounded by the order (TPC-H caps at 7 lineitems; a real
    pipeline would cap giant baskets the way resource_allocation_links
    caps hub degree). Lift = support * N / (n_a * n_b) is one double
    formula over exact BIGINT counts (round 6dp); the one-row order
    total broadcasts (BNLJ whitelist)."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("item")
    )
    # localCheckpoint: baskets is referenced by items, fb AND tot —
    # un-checkpointed, the lineitem scan + DISTINCT shuffle ran three
    # times in one plan (optimization r9; the fb checkpoint below
    # already cut the pair join's build side, this cuts its inputs).
    baskets = li.distinct().localCheckpoint()
    items = baskets.groupBy("item").agg(F.count(F.lit(1)).cast("long").alias("n_i"))
    freq = items.filter(F.col("n_i") >= 2)
    # fb is LAZY (optimization r9): both pair-join sides live in the
    # single final plan, and fb derives from the already-materialized
    # baskets RDD — deferring its materialization drops one sequential
    # eager job (baskets itself stays EAGER: it is the expensive
    # scan+DISTINCT kernel with three consumers, the deliberate-eager
    # class).
    fb = baskets.join(freq, "item").localCheckpoint(eager=False)
    a = fb.select(
        "okey", F.col("item").alias("item_a"), F.col("n_i").alias("n_a")
    )
    b = fb.select(
        "okey", F.col("item").alias("item_b"), F.col("n_i").alias("n_b")
    )
    pairs = (
        a.join(b, ["okey"])
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= 2)
    )
    tot = baskets.agg(F.countDistinct("okey").cast("long").alias("n_orders"))
    return pairs.crossJoin(F.broadcast(tot)).select(
        "item_a",
        "item_b",
        "support",
        "n_a",
        "n_b",
        F.round(
            F.col("support").cast("double")
            * F.col("n_orders").cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
            6,
        ).alias("lift_r"),
    )


@query(
    "mad_outlier_stats",
    oracle="""
    WITH c AS (
      SELECT event_type, event_id,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    r1 AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cents, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM c
    ),
    med AS (SELECT event_type, cents AS med_cents FROM r1
            WHERE rn = (n + 1) // 2),
    d AS (
      SELECT c.event_type, c.event_id, m.med_cents,
             ABS(c.cents - m.med_cents) AS dev
      FROM c JOIN med m USING (event_type)
    ),
    r2 AS (
      SELECT event_type, dev,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY dev, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM d
    ),
    mad AS (SELECT event_type, dev AS mad_cents FROM r2
            WHERE rn = (n + 1) // 2)
    SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
           d.med_cents, mad.mad_cents,
           CAST(SUM(CASE WHEN d.dev > 3 * mad.mad_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM d JOIN mad USING (event_type)
    GROUP BY d.event_type, d.med_cents, mad.mad_cents
    """,
)
def mad_outlier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST OUTLIER DETECTION via MEDIAN ABSOLUTE DEVIATION — two
    chained EXACT integer medians (value cents, then |cents - med|)
    computed with the BANDED rank-selection operator
    (operators/ranking.py: grouped_weighted_median, unit weights,
    cents div 500 bands ~ 100 bands/type), so neither median pays the
    per-type sort wall the direct cum-sum form would at 100 TB. The
    median under unit weights is the lower median (first rank whose
    doubled cumulative count reaches the total = rank (n+1)//2),
    which the oracle replays with plain row_number ranks — ties in
    value cannot diverge because only the VALUE at the rank is
    emitted. Outliers = rows with deviation > 3 * MAD, all-integer
    comparisons end to end (no float sigma). Physical: quantize ->
    banded median -> 5-row broadcast join -> banded median -> 5-row
    broadcast join -> one keyed count; the cents base is
    localCheckpointed once and reused by all three passes."""
    from streaming_cdc_spark.operators.ranking import grouped_weighted_median

    base = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        .withColumn("wt", F.lit(1).cast("long"))
        .localCheckpoint()
    )
    med = grouped_weighted_median(
        base,
        ["event_type"],
        "cents",
        "event_id",
        "wt",
        band_expr=F.col("cents") / F.lit(500),
    ).select("event_type", F.col("median_value").alias("med_cents"))
    dev = (
        base.join(F.broadcast(med), "event_type")
        .withColumn("dev", F.abs(F.col("cents") - F.col("med_cents")))
        .localCheckpoint()
    )
    mad = grouped_weighted_median(
        dev,
        ["event_type"],
        "dev",
        "event_id",
        "wt",
        band_expr=F.col("dev") / F.lit(500),
    ).select("event_type", F.col("median_value").alias("mad_cents"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med_cents", "mad_cents")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("dev") > 3 * F.col("mad_cents"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .select("event_type", "n", "med_cents", "mad_cents", "n_outliers")
    )


@query(
    "hopping_distinct_users",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS tus FROM events
    ),
    w2 AS (
      SELECT user_id,
             (tus // 7200000000 - k) * 7200000000 AS win_start_us
      FROM e, (SELECT unnest([0, 1]) AS k) kk
      WHERE tus - ((tus // 7200000000 - k) * 7200000000) < 14400000000
    )
    SELECT win_start_us,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM w2 GROUP BY 1
    """,
)
def hopping_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT DISTINCT COUNT per HOPPING window (4h width, 2h hop) —
    the sliding-audience question ('how many distinct users were
    active in each trailing 4h?') that approx sketches usually
    answer; this is the exact form, and approx_distinct_bounds is its
    sketch-bounded sibling. A user active in both halves of a window
    must count ONCE there but once in each of the two windows that
    cover only one half — per-window dedup, which a tumbling rollup
    can't compose into. Physical: one Expand (x2 rows, Spark's native
    window assignment) + count_distinct per window (partial
    aggregation handles the distinct on the map side). The oracle
    derives hop-grid membership arithmetically in epoch micros, same
    rule as hopping_window_counts."""
    ev = load(spark, sf_dir, "events")
    g = ev.groupBy(F.window("ts", "4 hours", "2 hours").alias("w")).agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return g.select(
        F.unix_micros("w.start").alias("win_start_us"), "n_users", "n_events"
    )


@query(
    "time_weighted_value",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    d AS (
      SELECT user_id, cents,
             lead(tus) OVER (PARTITION BY user_id
                             ORDER BY tus, event_id) - tus AS dt_us
      FROM e
    ),
    s AS (
      SELECT user_id,
             COUNT(*) AS n_events,
             SUM(CAST(cents AS DECIMAL(18,0))
                 * CAST(dt_us AS DECIMAL(18,0))) AS swx,
             SUM(CAST(dt_us AS DECIMAL(18,0))) AS sw
      FROM d WHERE dt_us IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_held,
           ROUND(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) / 100.0, 6)
             AS twap_r
    FROM s WHERE sw > 0
    """,
)
def time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED AVERAGE value per user (TWAP — the metering /
    billing aggregate: each observation holds until the next one, so
    its weight is the HOLD DURATION, not 1). Per-user lead window
    under the (ts, event_id) total order gives exact integer
    microsecond hold times (timestamp ties contribute zero weight
    deterministically — the tied-first row's dt is 0 under the total
    order); the integration is exact DECIMAL products
    (cents × dt_us, DECIMAL(37,0) — BIGINT sums would overflow at
    10^12-row scale) summed order-free, and the average is ONE double
    division rounded 6dp. Users whose observations all share one
    timestamp carry zero total weight and are excluded on both
    engines (sw > 0). Physical: one per-user window (millions of
    small partitions at scale) + one keyed aggregation — the
    user_range_frame_sums shape with value-weighted time instead of
    time-bounded value."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("tus"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    w = W.partitionBy("user_id").orderBy("tus", "event_id")
    d = ev.select(
        "user_id",
        "cents",
        (F.lead("tus").over(w) - F.col("tus")).alias("dt_us"),
    ).filter(F.col("dt_us").isNotNull())
    s = d.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_held"),
        F.sum(
            F.col("cents").cast("decimal(18,0)")
            * F.col("dt_us").cast("decimal(18,0)")
        ).alias("swx"),
        F.sum(F.col("dt_us").cast("decimal(18,0)")).alias("sw"),
    )
    return s.filter(F.col("sw") > 0).select(
        "user_id",
        "n_held",
        F.round(
            F.col("swx").cast("double") / F.col("sw").cast("double") / 100.0, 6
        ).alias("twap_r"),
    )


_HLL_ORACLE = """
    WITH el AS (
      SELECT event_type,
             concat(CAST(user_id AS VARCHAR), '-', strftime(ts, '%Y%m%d')) AS elem
      FROM events
    ),
    h AS (
      SELECT DISTINCT event_type,
             CAST(concat('0x', substr(md5(elem), 1, 15)) AS BIGINT) AS hv
      FROM el
    ),
    r AS (
      SELECT event_type, hv % 64 AS reg,
             CASE WHEN hv // 64 = 0 THEN 55
                  ELSE 55 - length(bin(hv // 64)) END AS rho
      FROM h
    ),
    mx AS (SELECT event_type, reg, MAX(rho) AS mreg FROM r GROUP BY 1, 2),
    grid AS (
      SELECT t.event_type, g.reg
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS reg) g
    ),
    fullr AS (
      SELECT g.event_type, COALESCE(mx.mreg, 0) AS mreg
      FROM grid g LEFT JOIN mx ON g.event_type = mx.event_type AND g.reg = mx.reg
    ),
    agg AS (
      SELECT event_type,
             CAST(SUM(CAST(1 AS BIGINT) << (55 - mreg)) AS BIGINT) AS s_scaled,
             CAST(SUM(CASE WHEN mreg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_regs
      FROM fullr GROUP BY 1
    ),
    ex AS (
      SELECT event_type, CAST(COUNT(DISTINCT elem) AS BIGINT) AS n_exact
      FROM el GROUP BY 1
    )
    SELECT e.event_type, e.n_exact, a.s_scaled, a.zero_regs,
           ROUND(CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
                 * CAST(36028797018963968 AS DOUBLE)
                 / CAST(a.s_scaled AS DOUBLE), 4) AS est_raw_r
    FROM ex e JOIN agg a ON e.event_type = a.event_type
"""


@query("hll_replay_distinct", oracle=_HLL_ORACLE)
def hll_replay_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog where the WHOLE SKETCH replays in SQL — the
    count_min_replay pattern for cardinality (Flajolet et al. 2007),
    completing the sketch family (CM / Misra-Gries / GK / Bloom /
    HLL). Per event_type the sketched element is user_id-day; m = 64
    registers, register = low 6 hash bits, rho = leading-zero rank
    of the remaining 54 bits computed EXACTLY as 55 - bitlength via
    the binary-string render (bin() exists and agrees in Spark and
    DuckDB; no float log2). Register state M_j = MAX(rho) is an
    order-free monoid — the reason an HLL register file is exactly
    SQL-replayable while a float mergeable summary would not be.
    The harmonic-mean denominator is kept EXACT-INTEGER by scaling:
    sum_j 2^-M_j = S / 2^55 with S = sum_j 2^(55-M_j) <= 64*2^55
    (fits BIGINT), so the raw estimate alpha_64 * m^2 * 2^55 / S is
    one fixed-order double expression over exact integers, rounded
    4dp; the platform-free columns (n_exact, s_scaled, zero_regs)
    are pure integers. The distinct + two tiny keyed aggregates are
    the only shuffles; the register grid is types x 64 via sequence
    explode (no cartesian node). Spark's own approx_count_distinct
    register file is not oracle-replayable (implementation-defined
    hash) — this query pins the ALGEBRA on a cross-engine hash
    instead (the approx_distinct_bounds / count_min_replay
    evidence pattern)."""
    from streaming_cdc_spark.functions.hashing import md5_long

    ev = load(spark, sf_dir, "events")
    elem = F.concat(
        F.col("user_id").cast("string"),
        F.lit("-"),
        F.date_format("ts", "yyyyMMdd"),
    )
    el = ev.select("event_type", elem.alias("elem"))
    h = el.select("event_type", md5_long(F.col("elem")).alias("hv")).distinct()
    w = F.expr("hv div 64")
    r = h.select(
        "event_type",
        (F.col("hv") % 64).alias("reg"),
        F.when(w == F.lit(0), F.lit(55))
        .otherwise(F.lit(55) - F.length(F.bin(w)))
        .cast("long")
        .alias("rho"),
    )
    mx = r.groupBy("event_type", "reg").agg(F.max("rho").alias("mreg"))
    grid = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("reg"),
        )
        .select("event_type", F.col("reg").cast("long").alias("reg"))
    )
    fullr = grid.join(mx, ["event_type", "reg"], "left").select(
        "event_type", F.coalesce("mreg", F.lit(0).cast("long")).alias("mreg")
    )
    term = F.call_function(
        "shiftleft",
        F.lit(1).cast("long"),
        (F.lit(55) - F.col("mreg")).cast("int"),
    )
    agg = fullr.groupBy("event_type").agg(
        F.sum(term).cast("long").alias("s_scaled"),
        F.sum(F.when(F.col("mreg") == 0, 1).otherwise(0)).cast("long").alias("zero_regs"),
    )
    ex = el.groupBy("event_type").agg(
        F.countDistinct("elem").cast("long").alias("n_exact")
    )
    est = (
        F.lit(0.709)
        * F.lit(4096.0)
        * F.lit(36028797018963968.0)
        / F.col("s_scaled").cast("double")
    )
    return ex.join(agg, "event_type").select(
        "event_type",
        "n_exact",
        "s_scaled",
        "zero_regs",
        F.round(est, 4).alias("est_raw_r"),
    )


_RANKFAM_ORACLE = """
    WITH e AS (
      SELECT event_id, event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_id, event_type,
           CAST(NTILE(10) OVER w AS BIGINT) AS decile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pr_r,
           ROUND(CUME_DIST() OVER w, 6) AS cd_r
    FROM e
    WINDOW w AS (PARTITION BY event_type ORDER BY cents, event_id)
"""


@query("windowed_rank_family", oracle=_RANKFAM_ORACLE)
def windowed_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining RANKING window functions in one pass — NTILE
    (equi-count tiles), PERCENT_RANK ((rank-1)/(n-1)) and CUME_DIST
    (peers-inclusive rank/n) per event_type over exact cents. All
    three are deterministic HERE because the ORDER BY is a TOTAL
    order ((cents, event_id)) — under ties NTILE's tile assignment
    is partition-order dependent and PERCENT_RANK/CUME_DIST handle
    peers differently from ROW_NUMBER-derived math, so the tiebreak
    is load-bearing, not cosmetic. The two ratio outputs are single
    double expressions evaluated identically by both engines'
    standard SQL semantics, rounded 6dp. One hash exchange + one
    sort per type; all three functions share the same window frame,
    so Spark evaluates them in a single Window operator (one pass
    over each sorted partition)."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    e = ev.select(
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    w = W.partitionBy("event_type").orderBy("cents", "event_id")
    return e.select(
        "event_id",
        "event_type",
        F.ntile(10).over(w).cast("long").alias("decile"),
        F.round(F.percent_rank().over(w), 6).alias("pr_r"),
        F.round(F.cume_dist().over(w), 6).alias("cd_r"),
    )


_RANKTIES_ORACLE = """
    WITH t AS (
      SELECT event_type, user_id,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS cents,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) // 100000 AS bucket
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT event_type, user_id, cents,
           CAST(RANK() OVER (PARTITION BY event_type ORDER BY bucket DESC)
                AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER (PARTITION BY event_type ORDER BY bucket DESC)
                AS BIGINT) AS drnk
    FROM t
"""


@query("rank_tie_semantics", oracle=_RANKTIES_ORACLE)
def rank_tie_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK vs DENSE_RANK under REAL TIES — the two ranking functions
    whose tie semantics differ (gap vs no gap) and which are
    tie-DETERMINISTIC by definition: peers of the sort value share a
    rank no matter the partition order, so — unlike row_number/NTILE
    — no tiebreak column is needed, and THAT property is what this
    query pins cross-engine. Users rank per type by their exact
    integer cents total COARSENED to 1000-unit buckets (integer //,
    floor on non-negative sums both engines; Spark `div` truncates
    while DuckDB `//` floors, so non-negativity is LOAD-BEARING —
    pinned by test_rank_tie_cents_nonnegative_on_fixture) so
    collisions actually occur at every sf — a tie-semantics query
    over tie-free data would be vacuous. One keyed aggregate + one
    window pass."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    t = (
        ev.select(
            "event_type",
            "user_id",
            (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("c"),
        )
        .groupBy("event_type", "user_id")
        .agg(F.sum("c").cast("long").alias("cents"))
        .withColumn("bucket", F.expr("cents div 100000"))
    )
    w = W.partitionBy("event_type").orderBy(F.col("bucket").desc())
    return t.select(
        "event_type",
        "user_id",
        "cents",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
    )


@query(
    "cube_returnflag_status",
    oracle="""
    SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN '(all)'
                ELSE l_returnflag END AS returnflag,
           CASE WHEN GROUPING(l_linestatus) = 1 THEN '(all)'
                ELSE l_linestatus END AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                AS BIGINT) AS lvl,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                 AS DOUBLE), 2) AS price_sum_r
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE — the remaining grouping-sets kind after ROLLUP
    (rollup_revenue_cube): all FOUR aggregation levels including the
    cross marginals ROLLUP cannot express (lvl 2 = per-linestatus
    across flags, the row a hierarchy never produces). Same one
    Expand + one shuffle physical (2^k grouping sets in a single
    aggregate, vs four hand-unioned scans), same GROUPING-bit decode
    so NULL-keyed leaves can't fake subtotal rows, same DECIMAL
    money rule."""
    li = load(spark, sf_dir, "lineitem")
    g = li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("long").alias("lvl"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2
        ).alias("price_sum_r"),
    )
    return g.select(
        F.when(F.col("lvl").bitwiseAND(2) == 2, F.lit("(all)"))
        .otherwise(F.col("l_returnflag"))
        .alias("returnflag"),
        F.when(F.col("lvl").bitwiseAND(1) == 1, F.lit("(all)"))
        .otherwise(F.col("l_linestatus"))
        .alias("linestatus"),
        "lvl",
        "n_items",
        "price_sum_r",
    )


_WINSOR_ORACLE = """
    WITH ev AS (
      SELECT event_type, event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT event_type, c,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY c, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM ev
    ),
    ks AS (
      SELECT DISTINCT event_type, n,
             (5 * n + 99) // 100 AS klo, (95 * n + 99) // 100 AS khi
      FROM r
    ),
    lo AS (SELECT r.event_type, r.c AS p_lo
           FROM r JOIN ks ON r.event_type = ks.event_type AND r.rn = ks.klo),
    hi AS (SELECT r.event_type, r.c AS p_hi
           FROM r JOIN ks ON r.event_type = ks.event_type AND r.rn = ks.khi)
    SELECT ev.event_type,
           CAST(MAX(ks.n) AS BIGINT) AS n,
           CAST(MAX(lo.p_lo) AS BIGINT) AS p_lo,
           CAST(MAX(hi.p_hi) AS BIGINT) AS p_hi,
           CAST(SUM(GREATEST(lo.p_lo, LEAST(hi.p_hi, ev.c))) AS BIGINT)
             AS wsum,
           ROUND(CAST(SUM(GREATEST(lo.p_lo, LEAST(hi.p_hi, ev.c)))
                      AS DOUBLE)
                 / CAST(MAX(ks.n) AS DOUBLE) / 100.0, 4) AS wmean_r
    FROM ev
    JOIN ks ON ev.event_type = ks.event_type
    JOIN lo ON ev.event_type = lo.event_type
    JOIN hi ON ev.event_type = hi.event_type
    GROUP BY ev.event_type
"""


@query("winsorized_stats", oracle=_WINSOR_ORACLE)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT WINSORIZED MEAN per event type — the robust-statistics
    workhorse (clamp to [P5, P95], then average) that, unlike a
    trimmed mean over approximate quantiles, is fully hash-checkable:
    the clamp bounds are EXACT ORDER STATISTICS (k-th smallest with
    k = ceil(0.05n) / ceil(0.95n), pure integer rank arithmetic on
    exact cents), the winsorized sum is an exact integer, and the
    only float is one final division rounded 4dp. Physical: BOTH
    banded rank selections in ONE pass
    (operators/ranking.grouped_order_statistics — the weighted-median
    banding generalized to arbitrary ranks: per-(type, band) counts
    -> one window over the tiny band relation -> row-rank only
    inside each k's crossing band, the two ranks sharing the scan
    and band aggregate; a direct per-type rank window would sort
    20 TB in one task at 100 TB for 5 types) + one clamp-aggregate
    scan against the broadcast-sized per-type bounds. Oracle: the
    direct rank-window formulation — an independent physical, so the
    hash match proves the banded selection == the definitional k-th
    order statistic."""
    from streaming_cdc_spark.operators.ranking import grouped_order_statistics

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    e = ev.select(
        "event_type",
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("c"),
    )
    stats = grouped_order_statistics(
        e, ["event_type"], "c", "event_id",
        [(5, 99, 100), (95, 99, 100)],
        band_expr=F.expr("c div 100"),
    )
    # ONE reference to the banded pass (optimization r9 residual
    # sweep): the old lo/hi filter + self-join referenced `stats`
    # twice, re-running the whole order-statistics pass per side —
    # pivoting the 2-rows-per-type relation in one aggregate keeps a
    # single pass and drops the join. stat_idx 0/1 each appear exactly
    # once per type, so MAX(CASE) is the plain pivot; n is identical
    # on both rows.
    bounds = F.broadcast(
        stats.groupBy("event_type").agg(
            F.max(F.when(F.col("stat_idx") == 0, F.col("stat_value"))).alias("p_lo"),
            F.max(F.when(F.col("stat_idx") == 1, F.col("stat_value"))).alias("p_hi"),
            F.max("n").alias("n"),
        )
    )
    clamped = e.join(bounds, "event_type").select(
        "event_type",
        "n",
        "p_lo",
        "p_hi",
        F.greatest(F.col("p_lo"), F.least(F.col("p_hi"), F.col("c"))).alias("w"),
    )
    return clamped.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max("p_lo").cast("long").alias("p_lo"),
        F.max("p_hi").cast("long").alias("p_hi"),
        F.sum("w").cast("long").alias("wsum"),
        F.round(
            F.sum("w").cast("double") / F.max("n").cast("double") / F.lit(100.0), 4
        ).alias("wmean_r"),
    )


@query(
    "grouping_sets_custom",
    oracle="""
    SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN '(all)'
                ELSE l_returnflag END AS returnflag,
           CASE WHEN GROUPING(l_linestatus) = 1 THEN '(all)'
                ELSE l_linestatus END AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                AS BIGINT) AS lvl,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                 AS DOUBLE), 2) AS price_sum_r
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def grouping_sets_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLICIT GROUPING SETS — the remaining grouping-sets surface
    after ROLLUP (hierarchy) and CUBE (full lattice): an ARBITRARY
    set list ((returnflag), (linestatus)) producing ONLY the two
    marginals — no pair level, no grand total — a shape neither
    ROLLUP nor CUBE can express (a dashboard's side-by-side
    breakdown without the cross product). Same single-Expand + one
    shuffle physical (each input row replicated once per set — 2x
    here vs 4x for CUBE, the Expand factor is exactly |sets|), same
    GROUPING-bit decode so NULL-valued keys can't fake marginal
    rows, same DECIMAL money rule. Uses the Spark 4 DataFrame
    groupingSets API (SPARK-45929) rather than a SQL string."""
    li = load(spark, sf_dir, "lineitem")
    g = li.groupingSets(
        [["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus"
    ).agg(
        F.grouping_id().cast("long").alias("lvl"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2
        ).alias("price_sum_r"),
    )
    return g.select(
        F.when(F.expr("lvl div 2 % 2") == 1, F.lit("(all)"))
        .otherwise(F.col("l_returnflag"))
        .alias("returnflag"),
        F.when(F.col("lvl") % 2 == 1, F.lit("(all)"))
        .otherwise(F.col("l_linestatus"))
        .alias("linestatus"),
        "lvl",
        "n_items",
        "price_sum_r",
    )


@query(
    "multi_touch_attribution",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS pid, user_id, epoch_us(ts) AS pus,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    c AS (
      SELECT event_id AS cid, user_id, epoch_us(ts) AS cus
      FROM events WHERE event_type = 'click'
    ),
    j AS (
      SELECT pid, cid, cents, cus
      FROM p JOIN c USING (user_id)
      WHERE pus - cus BETWEEN 0 AND {_GAP_LIMIT_US}
    ),
    w AS (
      SELECT pid, cid, cents,
             COUNT(*) OVER (PARTITION BY pid) AS n,
             ROW_NUMBER() OVER (
               PARTITION BY pid ORDER BY cus DESC, cid DESC) AS rnk
      FROM j
    ),
    cr AS (
      SELECT cid,
             (cents * 1000000) // n
             + CASE WHEN rnk = 1
                    THEN cents * 1000000 - ((cents * 1000000) // n) * n
                    ELSE 0 END AS credit
      FROM w
    )
    SELECT cid AS click_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(credit) AS BIGINT) AS credit_micro
    FROM cr GROUP BY 1
""",
)
def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR MULTI-TOUCH ATTRIBUTION — the range-join generalization
    of last-touch purchase_attribution: every click of the SAME user
    within the 7-day window before a purchase shares that purchase's
    value EQUALLY. Credit is exact integer micro-cents: base = total
    div n per click, and the REMAINDER goes to the most recent click
    (tie: max click_id) — total conservation by construction, no
    1/n float division anywhere (the collocation_pmi no-float-split
    rule). Purchase cents are non-negative on the fixture (pinned by
    tests/test_analytics.py), so Spark `div` and DuckDB `//` agree
    without a shift. Physical: one user-keyed equi-join with the
    time-band filter (pairs bounded by the 7-day horizon — the
    attribution output IS the pair relation, linear in it), then a
    purchase-keyed window for (n, last-click rank). At 100 TB both
    shuffles key on high-cardinality ids; a hot user widens only its
    own band pairs, never a global stage."""
    ev = load(spark, sf_dir, "events")
    p = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.unix_micros("ts").alias("pus"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        "user_id",
        F.unix_micros("ts").alias("cus"),
    )
    j = (
        p.join(c, "user_id")
        .withColumn("gap", F.col("pus") - F.col("cus"))
        .filter((F.col("gap") >= 0) & (F.col("gap") <= _GAP_LIMIT_US))
    )
    wn = W.partitionBy("pid")
    wr = W.partitionBy("pid").orderBy(F.desc("cus"), F.desc("cid"))
    total = F.col("cents") * F.lit(1_000_000)
    scored = j.select(
        "pid",
        "cid",
        "cents",
        F.count(F.lit(1)).over(wn).alias("n"),
        F.row_number().over(wr).alias("rnk"),
    ).withColumn(
        "credit",
        F.expr("(cents * 1000000) div n")
        + F.when(
            F.col("rnk") == 1,
            total - F.expr("(cents * 1000000) div n") * F.col("n"),
        ).otherwise(F.lit(0)),
    )
    return scored.groupBy(F.col("cid").alias("click_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum("credit").cast("long").alias("credit_micro"),
    )


_CUSUM_ORACLE = """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    w AS (
      SELECT user_id,
             CAST(ROW_NUMBER() OVER ord AS BIGINT) AS t,
             CAST(SUM(x) OVER (PARTITION BY user_id ORDER BY tus, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_t,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
             CAST(SUM(x) OVER (PARTITION BY user_id) AS BIGINT) AS s_n
      FROM e WINDOW ord AS (PARTITION BY user_id ORDER BY tus, event_id)
    ),
    d AS (
      SELECT user_id, t, n, ABS(s_t * n - t * s_n) AS dev,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ABS(s_t * n - t * s_n) DESC, t)
               AS pick
      FROM w
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           CAST(t AS BIGINT) AS cp_pos, CAST(dev AS BIGINT) AS d_max
    FROM d WHERE pick = 1
"""


@query("user_cusum_changepoint", oracle=_CUSUM_ORACLE)
def user_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFLINE CUSUM CHANGEPOINT per user series — the classic
    mean-shift detector (Page's CUSUM, offline form): for each
    user's time-ordered values, the changepoint is the prefix
    position t maximizing |mean(prefix) - mean(all)| weighted by
    t(n-t) — equivalently argmax_t |S_t*n - t*S_n|, which is PURE
    INTEGER arithmetic once values land as micro-units
    (value * 1e6 via an exact DECIMAL(18,6) hop — never a float
    multiply). No float recurrence, no sqrt: the statistic is exact,
    so the argmax and its tie-break (earliest t) replay bit-identical
    in SQL. Overflow bound: |S_t*n| <= n^2 * max|x| micro-units — a
    10k-event user series at full value range stays < 5e16, inside
    BIGINT (per-user series length is the bound, not corpus size).
    Physical: ONE user-keyed exchange; the prefix sum, the
    full-partition totals, and the argmax row_number are three
    window passes over the same partitioning (Catalyst reuses the
    exchange; sorts are per-key). Output: per user, series length,
    changepoint position, and the exact peak deviation."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    e = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("tus"),
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("long")
        .alias("x"),
    )
    ordw = W.partitionBy("user_id").orderBy("tus", "event_id")
    full = W.partitionBy("user_id")
    w = e.select(
        "user_id",
        F.row_number().over(ordw).cast("long").alias("t"),
        F.sum("x")
        .over(ordw.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("s_t"),
        F.count(F.lit(1)).over(full).cast("long").alias("n"),
        F.sum("x").over(full).cast("long").alias("s_n"),
    )
    dev = F.abs(F.col("s_t") * F.col("n") - F.col("t") * F.col("s_n"))
    d = w.select(
        "user_id",
        "t",
        "n",
        dev.alias("dev"),
        F.row_number()
        .over(W.partitionBy("user_id").orderBy(F.desc(dev), F.asc("t")))
        .alias("pick"),
    )
    return d.filter(F.col("pick") == 1).select(
        "user_id",
        F.col("n").alias("n_events"),
        F.col("t").alias("cp_pos"),
        F.col("dev").alias("d_max"),
    )


_AUTOCORR_ORACLE = """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS tus, event_id,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    p AS (
      SELECT user_id, v AS y,
             lag(v) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS x
      FROM e
    ),
    m AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
             SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy,
             SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy
      FROM p WHERE x IS NOT NULL GROUP BY user_id
    ),
    v AS (
      SELECT user_id, n, sx, sy, sxx, syy, sxy,
             CAST(n AS DECIMAL(19,0)) * sxx
               - CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0)) AS vx,
             CAST(n AS DECIMAL(19,0)) * syy
               - CAST(sy AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0)) AS vy
      FROM m
    )
    SELECT user_id, n AS n_pairs,
           ROUND(
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / SQRT(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)),
             6
           ) AS acf1_r
    FROM v WHERE vx <> 0 AND vy <> 0
"""


@query("user_lag1_autocorr", oracle=_AUTOCORR_ORACLE)
def user_lag1_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG-1 AUTOCORRELATION per user series — the stream-health
    signal behind "is this user's value series trending or i.i.d.":
    Pearson over consecutive pairs (x_t, x_{t+1}) in each user's
    time-ordered series, via the exact_moment_corr pattern hardened
    for SMALL-MAGNITUDE data: values land as exact MICRO-UNIT
    INTEGERS (the cusum hop — DECIMAL(18,6) * 1e6 -> BIGINT), the
    six moments accumulate as BIGINT / scale-0 DECIMAL (order-free
    under any partitioning; the built-in corr streams float
    partials), and Pearson r is SCALE-INVARIANT so the micro-unit
    scaling cancels in the one identical-order double formula
    (rounded 6dp). The variance terms n*sxx - sx^2 are scale-0
    DECIMAL products of integers — EXACT on both engines, so the
    zero-variance guard is an exact compare (a constant-valued
    series is filtered, never divided). A first draft kept the
    moments at DECIMAL(18,6): Spark's allowPrecisionLoss rounds the
    precision-57 product n*sxx to decimal(38,6), which ZEROES a
    sub-1e-6 variance that DuckDB's exact DECIMAL(38,12) keeps —
    probe-confirmed divergence on legal inputs; integer micro-units
    need only scale-0 products, which cap at precision 38 WITHOUT
    rounding. The lag pairing is one window over the same user-keyed
    exchange the aggregation uses: one shuffle total."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    e = ev.select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        "event_id",
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("long")
        .alias("v"),
    )
    p = e.select(
        "user_id",
        F.col("v").alias("y"),
        F.lag("v")
        .over(W.partitionBy("user_id").orderBy("tus", "event_id"))
        .alias("x"),
    ).filter(F.col("x").isNotNull())
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    m = p.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    nd = F.col("n").cast("decimal(19,0)")
    sxd = F.col("sx").cast("decimal(19,0)")
    syd = F.col("sy").cast("decimal(19,0)")
    v = m.select(
        "user_id",
        "n",
        "sx",
        "sy",
        "sxy",
        (nd * F.col("sxx") - sxd * sxd).alias("vx"),
        (nd * F.col("syy") - syd * syd).alias("vy"),
    )
    num = F.col("n").cast("double") * F.col("sxy").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sy").cast("double")
    den = F.sqrt(F.col("vx").cast("double") * F.col("vy").cast("double"))
    return v.filter((F.col("vx") != 0) & (F.col("vy") != 0)).select(
        "user_id",
        F.col("n").alias("n_pairs"),
        F.round(num / den, 6).alias("acf1_r"),
    )


_QUARTILE_ORACLE = """
    WITH o AS (
      SELECT o_orderpriority AS priority, o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    r AS (
      SELECT priority, cents,
             ROW_NUMBER() OVER (PARTITION BY priority
                                ORDER BY cents, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY priority) AS n
      FROM o
    ),
    q AS (
      SELECT g.priority, g.n, qs.qq,
             ((g.n - 1) * qs.qq) // 4 + 1 AS lo_rank,
             ((g.n - 1) * qs.qq) % 4 AS rem
      FROM (SELECT DISTINCT priority, n FROM r) g,
           (SELECT UNNEST([1, 2, 3]) AS qq) qs
    )
    SELECT q.priority,
           CAST(q.qq AS BIGINT) AS quartile,
           CAST(q.n AS BIGINT) AS n,
           ROUND(
             CAST(lo.cents * (4 - q.rem)
                  + COALESCE(hi.cents, lo.cents) * q.rem AS DOUBLE)
             / CAST(4 AS DOUBLE),
             6
           ) AS q_cents
    FROM q
    JOIN r lo ON lo.priority = q.priority AND lo.rn = q.lo_rank
    LEFT JOIN r hi ON hi.priority = q.priority AND hi.rn = q.lo_rank + 1
"""


@query("quartile_interp_stats", oracle=_QUARTILE_ORACLE)
def quartile_interp_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERPOLATED QUARTILES (percentile_cont semantics) per order
    priority — the continuous-percentile contract BI surfaces expect
    (Q1/Q2/Q3 at position (n-1)*p with LINEAR interpolation between
    the two bracketing order statistics), which the discrete-rank
    family (winsorized_stats, weighted_median_value) deliberately
    does not provide. The whole computation stays EXACT: positions
    are integer div/mod arithmetic ((n-1)*q div 4, remainder r in
    0..3), BOTH bracketing values are exact k-th order statistics
    fetched by operators/ranking.grouped_order_statistics in ONE
    banded pass (six rank specs — lo and hi per quartile — share the
    scan, the band aggregate, and the band windows; a direct
    per-group rank window would sort one task per group at scale),
    and the interpolation v_lo*(4-r) + v_hi*r is an exact BIGINT
    whose /4 is a dyadic rational — exact in double on both engines.
    The hi fetch can only fall off the end of a group when r = 0
    (proof: r > 0 implies floor((n-1)*q/4) < n-1, so hi_rank <= n),
    where it is unused — the lo/hi pivot (one MAX(CASE) aggregate
    over the <= 6-rows-per-group stats relation; the lo row always
    exists) + COALESCE(hi, lo) makes the n = 1 edge well-defined
    instead of row-dropping (the single-leaf forest lesson). Oracle =
    the direct rank-window formulation: an
    independent physical, so the hash match proves the banded
    selection against the definitional percentile_cont."""
    from streaming_cdc_spark.operators.ranking import grouped_order_statistics

    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    o = orders.select(
        F.col("o_orderpriority").alias("priority"),
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    # stat_idx 0..2 = lo rank for Q1..Q3 ((n-1)*q div 4 + 1 as the
    # (q, 4-q, 4) integer spec); 3..5 = the +1 bracketing rank
    # ((q, 8-q, 4): adding den to off adds exactly 1 to the floor).
    specs = [(q, 4 - q, 4) for q in (1, 2, 3)] + [
        (q, 8 - q, 4) for q in (1, 2, 3)
    ]
    stats = grouped_order_statistics(
        o,
        ["priority"],
        "cents",
        "o_orderkey",
        specs,
        band_expr=F.expr("cents div 100000"),
    )
    # ONE reference to the banded pass (optimization r9 residual
    # sweep): the old lo/hi filter + left self-join referenced `stats`
    # twice, re-running the whole six-rank pass per side — grouping
    # the <= 6-rows-per-priority relation by (priority, quartile)
    # pivots lo (idx 0..2) and hi (idx 3..5) in one aggregate. The lo
    # row always exists (lo rank k is in [1, n] for every n >= 1), so
    # the groups are exactly the old left join's keys; a missing hi
    # row (rank n+1 when r = 0) leaves v_hi NULL exactly as the left
    # join did, handled by the same COALESCE.
    j = stats.groupBy(
        "priority", ((F.col("stat_idx") % 3) + 1).cast("long").alias("quartile")
    ).agg(
        F.max(F.when(F.col("stat_idx") <= 2, F.col("stat_value"))).alias("v_lo"),
        F.max(F.when(F.col("stat_idx") >= 3, F.col("stat_value"))).alias("v_hi"),
        F.max(F.when(F.col("stat_idx") <= 2, F.col("n"))).alias("n"),
    )
    rem = ((F.col("n") - 1) * F.col("quartile")) % 4
    return j.select(
        "priority",
        "quartile",
        F.col("n").cast("long").alias("n"),
        F.round(
            (
                F.col("v_lo") * (F.lit(4) - rem)
                + F.coalesce(F.col("v_hi"), F.col("v_lo")) * rem
            ).cast("double")
            / F.lit(4).cast("double"),
            6,
        ).alias("q_cents"),
    )


_ANOM_ORACLE = """
    WITH e AS (
      SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    m AS (
      SELECT event_type, hr,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS ss
      FROM e GROUP BY 1, 2
    )
    SELECT m.event_type, m.hr, m.n,
           CAST(SUM(CASE WHEN
               (CAST(m.n AS DECIMAL(19,0)) * e.x - m.s)
                 * (CAST(m.n AS DECIMAL(19,0)) * e.x - m.s)
               > 9 * (CAST(m.n AS DECIMAL(19,0)) * m.ss
                      - CAST(m.s AS DECIMAL(19,0)) * CAST(m.s AS DECIMAL(19,0)))
             THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM e JOIN m ON e.event_type = m.event_type AND e.hr = m.hr
    GROUP BY 1, 2, 3
"""


@query("seasonal_anomaly_counts", oracle=_ANOM_ORACLE)
def seasonal_anomaly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL 3-SIGMA ANOMALY FLAGS WITHOUT A SINGLE DIVISION — the
    monitoring primitive (flag events deviating > 3 sigma from their
    seasonal cohort's mean, cohort = event type x hour of day) made
    EXACT by cross-multiplying the z-score test: z^2 > 9 with
    mu = s/n, var = (n*ss - s^2)/n^2 rearranges to
    (n*x - s)^2 > 9*(n*ss - s^2) — every term an exact scale-0
    DECIMAL product of micro-unit integers, so the flag is
    bit-identical on both engines with NO float mean, NO float
    variance, NO sqrt (the float z-score every naive implementation
    computes diverges in the last ulp and flips boundary flags).
    Output per cohort: population and anomaly count. Physical: one
    cohort aggregate (tiny — types x 24 rows, broadcast back) + one
    flag-aggregate scan; two map-side-combining shuffles, linear at
    any scale."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    e = ev.select(
        "event_type",
        F.hour("ts").cast("long").alias("hr"),
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("long")
        .alias("x"),
    )
    xd = F.col("x").cast("decimal(19,0)")
    m = e.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(xd * xd).alias("ss"),
    )
    j = e.join(F.broadcast(m), ["event_type", "hr"])
    nd = F.col("n").cast("decimal(19,0)")
    sd = F.col("s").cast("decimal(19,0)")
    dev = nd * F.col("x") - F.col("s")
    thresh = F.lit(9) * (nd * F.col("ss") - sd * sd)
    return j.groupBy("event_type", "hr", "n").agg(
        F.sum(F.when(dev * dev > thresh, 1).otherwise(0))
        .cast("long")
        .alias("n_anomalies")
    )
