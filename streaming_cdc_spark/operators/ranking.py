"""Scale-safe global-order operators (R1/R3/A5 at 100 TB).

A bare ``Window.orderBy(...)`` computes on ONE partition — Spark even
warns (`WindowExec: No Partition Defined`). These helpers implement
the standard two-pass form instead:

1. range-partition on the ordering key (equal keys never straddle a
   boundary) and sort within partitions;
2. run the window PER PARTITION (parallel — the window is partitioned
   by ``spark_partition_id()``);
3. aggregate one row per partition (distinct-count / total), convert
   to exclusive prefix offsets with a window over that tiny relation,
   and broadcast-join the offsets back onto the local results.

Everything stays in ONE lazy plan: the offsets branch re-reads the
same range Exchange (Catalyst plans it as ReusedExchange, so the
shuffle runs once and both branches see identical partitioning), and
nothing is collected to the driver. The offsets relation has one row
per partition, so its prefix window is trivially small; it is
partitioned by a constant to keep the plan free of single-partition
window warnings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def _with_offsets(local: DataFrame, per_part_col, out_expr_name: str):
    """Join exclusive prefix offsets of ``per_part_col`` (an aggregate
    expression over each _pid group) back onto ``local``."""
    # the partition key must not be a foldable literal: Catalyst
    # constant-folds it out of the window spec and the plan degrades
    # to an unpartitioned window (with its perf warning). least(_pid,0)
    # is constant-valued but not foldable, so the tiny offsets window
    # stays a partitioned one.
    sizes = local.groupBy("_pid").agg(per_part_col.alias("_n")).withColumn(
        "_one", F.least(F.col("_pid"), F.lit(0))
    )
    w = (
        W.partitionBy("_one")
        .orderBy("_pid")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    offs = sizes.select(
        "_pid", (F.sum("_n").over(w) - F.col("_n")).alias("_off")
    )
    return local.join(F.broadcast(offs), "_pid")


def dense_rank_global(
    df: DataFrame,
    order_col: str,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """df + ``out_col`` = dense_rank() over (ORDER BY order_col),
    computed without a single-partition window. Rank of a row =
    local dense rank within its range partition + (# distinct keys in
    earlier partitions)."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    part = (
        df.repartitionByRange(n, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn("_pid", F.spark_partition_id())
    )
    local = part.withColumn(
        "_lrank", F.dense_rank().over(W.partitionBy("_pid").orderBy(order_col))
    )
    # max local dense rank == # distinct keys in the partition
    out = _with_offsets(local, F.max("_lrank"), out_col)
    return out.withColumn(out_col, (F.col("_lrank") + F.col("_off")).cast("long")).drop(
        "_pid", "_lrank", "_off"
    )


def row_number_global(
    df: DataFrame,
    order_cols: list,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """df + ``out_col`` = row_number() over (ORDER BY order_cols) —
    order_cols may be names or sort expressions (e.g. F.desc("n"))
    and MUST define a total order (row_number under a partial order is
    nondeterministic in the single-partition form too).

    The local row number comes from ``monotonically_increasing_id``
    decoded AFTER the range sort (id = pid << 33 | position-in-
    partition), not from a Window PARTITION BY spark_partition_id():
    Catalyst cannot see that the range exchange already clusters rows
    by physical partition, so the window form inserts a SECOND
    full-data hashpartitioning(_pid) exchange + re-sort. Decoding the
    id is a projection — the corpus moves exactly once. The position
    is deterministic because the sort is a total order (same caveat
    either way). Bound: Spark's id layout caps a partition at 2^33
    rows (~8.6B) — size num_partitions so range partitions stay far
    below that (they must anyway: a partition is one task's sort)."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    local = (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_mono", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright(F.col("_mono"), 33).cast("int"))
        .withColumn(
            "_lrn", F.col("_mono").bitwiseAND(F.lit((1 << 33) - 1)) + F.lit(1)
        )
    )
    out = _with_offsets(local, F.count(F.lit(1)), out_col)
    return out.withColumn(out_col, (F.col("_lrn") + F.col("_off")).cast("long")).drop(
        "_pid", "_lrn", "_off", "_mono"
    )


def running_max_global(
    df: DataFrame,
    order_cols: list,
    val_col: str,
    out_col: str,
    num_partitions: int | None = None,
    exclusive: bool = False,
) -> DataFrame:
    """df + ``out_col`` = MAX(val_col) OVER (ORDER BY order_cols ROWS
    UNBOUNDED PRECEDING [AND 1 PRECEDING when ``exclusive``]) — the
    same two-pass shape as running_sum_global (range exchange + local
    window + broadcast per-partition prefix), max instead of sum.
    ``order_cols`` may be sort expressions (e.g. F.desc(...)); with
    ``exclusive`` the first global row gets NULL. Max is a monoid, so
    the cross-partition combine is one ``greatest`` (NULL-skipping)."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    part = (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    hi = -1 if exclusive else 0
    w = W.partitionBy("_pid").orderBy(*cols).rowsBetween(W.unboundedPreceding, hi)
    local = part.withColumn("_run", F.max(val_col).over(w))
    sizes = local.groupBy("_pid").agg(F.max(val_col).alias("_n")).withColumn(
        "_one", F.least(F.col("_pid"), F.lit(0))
    )
    wo = (
        W.partitionBy("_one")
        .orderBy("_pid")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offs = sizes.select("_pid", F.max("_n").over(wo).alias("_off"))
    out = local.join(F.broadcast(offs), "_pid")
    return out.withColumn(out_col, F.greatest("_run", "_off")).drop(
        "_pid", "_run", "_off"
    )


def pareto_front(
    df: DataFrame,
    x_col: str,
    y_col: str,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """2-D SKYLINE (Pareto front) under maximize-both dominance: keep
    rows for which no other row has x' >= x AND y' >= y with at least
    one strict; ties on both coordinates are mutually non-dominating
    and all kept. The data-selection form of "best docs on
    (quality, length) with no arbitrary weighting".

    Scale shape — the classic sweep made distributed: collapse to one
    row per distinct x (group max of y: one keyed aggregation), take
    the EXCLUSIVE running max of those maxima in descending-x order
    over the SMALL per-x relation (two-pass, no single-partition
    window), broadcast it back. A row survives iff y equals its x
    group's max and strictly exceeds every higher-x group's max. One
    shuffle over the data + one over #distinct-x rows; never a pair
    join (the NOT EXISTS definitional form — the oracle — is O(n²))."""
    g = df.groupBy(x_col).agg(F.max(y_col).alias("_gmax"))
    g = running_max_global(g, [F.desc(x_col)], "_gmax", "_hi", exclusive=True)
    keep = keep_cols or [c for c in df.columns if c not in (x_col, y_col)]
    # no broadcast hint: the per-x relation is usually tiny (AQE will
    # broadcast it), but a high-cardinality x must stay a shuffle join
    j = df.join(g, x_col)
    return j.filter(
        (F.col(y_col) == F.col("_gmax"))
        & (F.col("_hi").isNull() | (F.col(y_col) > F.col("_hi")))
    ).select(*keep, x_col, y_col)


def running_sum_global(
    df: DataFrame,
    order_cols: list[str],
    val_col: str,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """df + ``out_col`` = SUM(val_col) OVER (ORDER BY order_cols ROWS
    UNBOUNDED PRECEDING), two-pass: local running sums + broadcast
    prefix of per-partition totals. Ordering ties must be unique rows
    (same caveat as the single-partition form with ROWS framing)."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    part = (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    w = (
        W.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = part.withColumn("_run", F.sum(val_col).over(w))
    out = _with_offsets(local, F.sum(val_col), out_col)
    total = F.col("_run") + F.col("_off")
    # keep the historical long output for integral inputs; fractional
    # types pass through un-truncated
    if dict(df.dtypes).get(val_col) in {"tinyint", "smallint", "int", "bigint"}:
        total = total.cast("long")
    return out.withColumn(out_col, total).drop("_pid", "_run", "_off")


def grouped_weighted_median(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    weight_col: str,
    band_expr=None,
) -> DataFrame:
    """Exact per-group WEIGHTED MEDIAN without per-group sort walls:
    the direct form (one cum-sum window partitioned by group) puts a
    group's ENTIRE row set in one sort task — fatal when groups are
    few and huge (5 event types at 100 TB = 20 TB per task). This is
    the changelog_deltas BANDING trick applied to rank selection:

    1. quantize values into bands (``band_expr``, default
       floor(value)); per-(group, band) weight totals are a TINY
       relation (groups x bands);
    2. one window over that tiny relation yields exclusive band-prefix
       weights and each group's total;
    3. only the CROSSING band (first band whose running total reaches
       half) needs row-level ranking — its rows are band-bounded, and
       the in-band cum-sum window partitions by (group, band);
    4. the median row = first row in the crossing band whose
       band-prefix + in-band cumulative weight reaches half the total,
       under the (value, id) total order — ties across band
       boundaries cannot occur because the crossing band is defined
       by the same prefix sums the rows extend.

    Band granularity is the skew dial (a hot band bounds the residual
    sort). Returns one row per group: (group_cols..., median_value,
    tot_weight). All weight arithmetic exact BIGINT."""
    band = band_expr if band_expr is not None else F.floor(F.col(value_col))
    rows = df.select(
        *group_cols,
        F.col(value_col).alias("_v"),
        F.col(id_col).alias("_id"),
        F.col(weight_col).cast("long").alias("_wt"),
        band.cast("long").alias("_band"),
    )
    bt = rows.groupBy(*group_cols, "_band").agg(F.sum("_wt").alias("_bw"))
    wb = (
        W.partitionBy(*group_cols)
        .orderBy("_band")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wt = W.partitionBy(*group_cols)
    bands = bt.select(
        *group_cols,
        "_band",
        (F.sum("_bw").over(wb) - F.col("_bw")).alias("_pre"),
        F.sum("_bw").over(wb).alias("_thru"),
        F.sum("_bw").over(wt).alias("_tot"),
    )
    crossing = bands.filter(
        (F.col("_thru") * 2 >= F.col("_tot")) & (F.col("_pre") * 2 < F.col("_tot"))
    ).select(*group_cols, "_band", "_pre", "_tot")
    inband = rows.join(crossing, [*group_cols, "_band"])
    wc = (
        W.partitionBy(*group_cols, "_band")
        .orderBy("_v", "_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = inband.withColumn("_cum", F.col("_pre") + F.sum("_wt").over(wc))
    hit = cum.filter(F.col("_cum") * 2 >= F.col("_tot"))
    wr = W.partitionBy(*group_cols).orderBy("_v", "_id")
    return (
        hit.withColumn("_rn", F.row_number().over(wr))
        .filter(F.col("_rn") == 1)
        .select(
            *group_cols,
            F.col("_v").alias("median_value"),
            F.col("_tot").alias("tot_weight"),
        )
    )


def grouped_order_statistics(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    k_ranks: list[tuple[int, int, int]],
    band_expr=None,
    out_col: str = "stat_value",
) -> DataFrame:
    """Exact k-th-SMALLEST values per group for a LIST of ranks in
    ONE banded pass: each k derives from the group size as
    k = (num * n + off) div den with spec (num, off, den) — kept as
    an INTEGER rank spec (not a float fraction or a Column lambda)
    so k is exact `div` arithmetic at any n: a double division
    drifts past 2^53 and a half-up decimal division is not a floor.
    ceil(p*n) ranks are (p_num, den-1, den); min is (0, 1, 1), max
    is (1, 0, 1). The unit-weight generalization of
    grouped_weighted_median to ARBITRARY ranks (P5/P95 winsorization
    clamps, trimmed means, any ceil-rank percentile). Same banded
    physical, same reason: a per-group rank window sorts the whole
    group in one task; banding turns it into one window over the
    tiny (group, band) relation plus row-ranking ONLY inside the
    crossing bands. Multiple ranks share the scan, the band
    aggregate, and the band windows — the only per-rank cost is a
    filter over the tiny band relation (winsorization needs 2 ranks,
    a trimmed mean 2, a five-number summary 5; re-running the whole
    pass per rank would re-scan the data each time). Band
    granularity is the skew dial.

    NULL values are EXCLUDED (the standard order-statistic domain) —
    without the filter, NULL rows would band NULL, sort first, and
    silently shift every k (the r7 weighted-median NULL advice
    class). Returns one row per (group, rank): (group_cols...,
    stat_idx, out_col, n) with stat_idx = index into k_ranks and
    n = the group's non-null count."""
    band = band_expr if band_expr is not None else F.floor(F.col(value_col))
    rows = df.filter(F.col(value_col).isNotNull()).select(
        *group_cols,
        F.col(value_col).alias("_v"),
        F.col(id_col).alias("_id"),
        band.cast("long").alias("_band"),
    )
    bt = rows.groupBy(*group_cols, "_band").agg(
        F.count(F.lit(1)).cast("long").alias("_bw")
    )
    wb = (
        W.partitionBy(*group_cols)
        .orderBy("_band")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wt = W.partitionBy(*group_cols)
    bands = bt.select(
        *group_cols,
        "_band",
        (F.sum("_bw").over(wb) - F.col("_bw")).alias("_pre"),
        F.sum("_bw").over(wb).alias("_thru"),
        F.sum("_bw").over(wt).alias("_tot"),
    )
    # ONE pass over the band relation for ALL rank specs (optimization
    # r9 residual sweep): the old per-spec filter + unionByName
    # referenced `bands` once per rank, and Catalyst re-inlined the
    # base scan, the band aggregate and all three windows into every
    # copy (6x for the quartile query's six specs). Exploding the
    # per-row (stat_idx, k) spec array keeps a single pipelined
    # evaluation producing the identical crossing rows.
    entries = [
        F.struct(
            F.lit(i).cast("long").alias("stat_idx"),
            F.expr(f"({num} * _tot + {off}) div {den}").cast("long").alias("_k"),
        )
        for i, (num, off, den) in enumerate(k_ranks)
    ]
    crossing = (
        bands.select(
            *group_cols,
            "_band",
            "_pre",
            "_thru",
            F.col("_tot").alias("_n"),
            F.explode(F.array(*entries)).alias("_sp"),
        )
        .filter((F.col("_thru") >= F.col("_sp._k")) & (F.col("_pre") < F.col("_sp._k")))
        .select(
            *group_cols,
            "_band",
            "_pre",
            "_n",
            F.col("_sp._k").alias("_k"),
            F.col("_sp.stat_idx").alias("stat_idx"),
        )
    )
    inband = rows.join(crossing, [*group_cols, "_band"])
    wr = W.partitionBy(*group_cols, "_band", "stat_idx").orderBy("_v", "_id")
    return (
        inband.withColumn("_rn", F.col("_pre") + F.row_number().over(wr))
        .filter(F.col("_rn") == F.col("_k"))
        .select(
            *group_cols,
            "stat_idx",
            F.col("_v").alias(out_col),
            F.col("_n").alias("n"),
        )
    )
