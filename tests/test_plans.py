"""Physical-plan contracts: filters reach the parquet scan, columns
prune, small dims broadcast, hot paths stay in whole-stage codegen.
These are the 100 TB regression guards."""

from streaming_cdc_spark.plans.inspect import (
    has_partial_aggregation,
    has_whole_stage_codegen,
    join_strategies,
    pushed_filters,
    scan_columns,
)
from streaming_cdc_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_pricing_summary(spark):
    df = QUERIES["pricing_summary"](spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed


def test_column_pruning_pricing_summary(spark):
    df = QUERIES["pricing_summary"](spark, SF)
    cols = scan_columns(df)
    # contexts the query never touches must not be read
    assert "l_orderkey" not in cols
    assert "l_partkey" not in cols
    assert {"l_quantity", "l_extendedprice", "l_discount", "l_tax"} <= cols


def test_broadcast_join_dims(spark):
    df = QUERIES["revenue_by_nation"](spark, SF)
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in strategies


def test_band_join_is_equi_join(spark):
    # the offset-exploded band join must plan as a hash/merge join,
    # never a nested-loop range join
    df = QUERIES["band_join_pairs"](spark, SF)
    strategies = join_strategies(df)
    assert "BroadcastNestedLoopJoin" not in strategies
    assert "CartesianProduct" not in strategies


def test_codegen_and_partial_agg(spark):
    df = QUERIES["pricing_summary"](spark, SF)
    assert has_partial_aggregation(df)  # map-side combine before shuffle
    assert has_whole_stage_codegen(df)


def test_filter_pushdown_user_filter(spark):
    df = QUERIES["running_user_value"](spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "user_id" in pushed


def test_fan_out_repartitions_narrow_scans(spark):
    """Row-exploding stages must not inherit a single-partition scan:
    fan_out inserts a repartition below the cluster's parallelism and
    stays a no-op above it."""
    from streaming_cdc_spark.session import fan_out

    df = spark.range(100).coalesce(1)
    assert fan_out(df).rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism

    wide = spark.range(100).repartition(64)
    # already wide enough: no extra shuffle inserted
    assert fan_out(wide, min_partitions=8) is wide


def test_exploded_shingles_parallelize(spark):
    from streaming_cdc_spark.operators.dedup import exploded_shingles
    from streaming_cdc_spark.tables import load

    docs = load(spark, SF, "documents")
    sh = exploded_shingles(docs)
    assert sh.rdd.getNumPartitions() > 1


def test_shard_corpus_window_is_partitioned(spark):
    """The within-shard rank must window over the shard key, never a
    global single-partition window."""
    from streaming_cdc_spark.operators.text import shard_corpus
    from streaming_cdc_spark.tables import load

    df = shard_corpus(load(spark, SF, "documents"), n_shards=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    # an unpartitioned window plans as 'Window [...], [orderBy]' with
    # a SinglePartition exchange — assert the shard key partitions it
    assert "SinglePartition" not in plan


def test_simhash_hamming_no_cartesian_at_table_scale(spark):
    from streaming_cdc_spark.operators.dedup import simhash_hamming_pairs
    from streaming_cdc_spark.tables import load

    df = simhash_hamming_pairs(load(spark, SF, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_assign_no_expansion_no_window(spark):
    """Literal-centroid Lloyd assignment: no join of any kind (the
    centroid set is inlined), no argmin window — one scan, one
    aggregate exchange."""
    df = QUERIES["kmeans_assign"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange") <= 1


def test_semantic_dedup_candidates_are_equi_join(spark):
    """SemDeDup: the pairwise scan is bounded by cell equi-joins —
    never a cartesian/broadcast-nested-loop over the corpus."""
    from streaming_cdc_spark.plans.inspect import join_strategies

    df = QUERIES["semantic_dedup"](spark, SF)
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in strategies


def test_ivf_topk_exact_probe_is_equi_join(spark):
    df = QUERIES["ivf_topk_exact"](spark, SF)
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in strategies


def test_ngram_repetition_no_aggregate_shuffle(spark):
    """Doc-local statistic: no hash-partitioned Exchange (the only
    allowed exchange is fan_out's round-robin repartition of the
    narrow scan)."""
    df = QUERIES["ngram_repetition_stats"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan


def test_row_number_global_single_data_shuffle(spark):
    """The two-pass global row number must move the corpus exactly
    once: the local position is decoded from monotonically_increasing_id
    after the range sort, not from a Window PARTITION BY partition-id
    (which plans a second full-data hashpartitioning(_pid) exchange —
    the old form showed two; the offsets groupBy keeps the only one,
    and it is map-side combined to one row per partition)."""
    from streaming_cdc_spark.operators.text import quality_decile_bins
    from streaming_cdc_spark.tables import load

    df = quality_decile_bins(load(spark, SF, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("hashpartitioning(_pid") == 1


def test_audit_regex_catches_left_branch_single_partition_window():
    """ADVICE r3: a Window -> Sort -> Exchange SinglePartition chain
    nested in a join's LEFT branch carries ':' tree-prefixes that the
    old audit regex never consumed — the offending plan below (shape
    taken from a live executedPlan) must now be flagged, and the
    compliant hash-partitioned form must not."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "audit_plans",
        os.path.join(os.path.dirname(__file__), "..", "tools", "audit_plans.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    left_branch_offender = (
        "*(5) SortMergeJoin [id#1L], [id#2L], Inner\n"
        ":- *(2) Window [row_number() windowspecdefinition(x#3L ASC) AS rn#9], [x#3L ASC]\n"
        ":  +- *(1) Sort [x#3L ASC NULLS FIRST], false, 0\n"
        ":     +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=12]\n"
        ":        +- Scan parquet [x#3L]\n"
        "+- *(4) Sort [id#2L ASC NULLS FIRST], false, 0\n"
        "   +- Exchange hashpartitioning(id#2L, 32)\n"
    )
    assert mod.has_single_partition_window(left_branch_offender)

    spine_offender = (
        "Window [sum(v#1L) ...], [ord#2L ASC]\n"
        "+- *(1) Sort [ord#2L ASC NULLS FIRST], false, 0\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=5]\n"
    )
    assert mod.has_single_partition_window(spine_offender)

    compliant = (
        "Window [row_number() ...], [k#1L], [ord#2L ASC]\n"
        "+- *(1) Sort [k#1L ASC, ord#2L ASC], false, 0\n"
        "   +- Exchange hashpartitioning(k#1L, 32), ENSURE_REQUIREMENTS\n"
    )
    assert not mod.has_single_partition_window(compliant)

    # SinglePartition elsewhere in the plan (a scalar agg far below an
    # unrelated Window) must not be attributed to the Window
    unrelated = (
        "Window [rn#1], [k#2L], [o#3L ASC]\n"
        "+- *(2) Sort [k#2L ASC], false, 0\n"
        "   +- Exchange hashpartitioning(k#2L, 32)\n"
        "      +- *(1) HashAggregate(keys=[], functions=[count(1)])\n"
        "         +- Exchange SinglePartition\n"
    )
    assert not mod.has_single_partition_window(unrelated)


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """Hive-style partitioned layout: a filter on the partition column
    must become a PartitionFilter (directory pruning — only matching
    partitions are listed/read), not a post-scan data filter. At 100
    TB this is the difference between reading one event type and
    reading the table."""
    from streaming_cdc_spark.tables import load

    ev = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    path = str(tmp_path / "ev_part")
    ev.write.partitionBy("event_type").parquet(path)
    some_type = ev.select("event_type").first()[0]
    from pyspark.sql import functions as F

    df = (
        spark.read.parquet(path)
        .filter(F.col("event_type") == some_type)
        .select("event_id", "value")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert m, plan[:1500]
    assert some_type in m[0], m[0]
    # the partition-column predicate must NOT survive as a row filter
    assert "Filter" not in plan.split("Scan parquet")[0], plan[:1500]


def test_edit_distance_pairs_no_cartesian(spark):
    """Ed-Join candidates must come from keyed joins (prefix gram +
    length band), never a cross product, at table scale."""
    from streaming_cdc_spark.queries import QUERIES

    plan = (
        QUERIES["edit_distance_pairs"](spark, "/root/testdata/sf0.01")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_layout_scalar_broadcast_only(spark):
    """The only broadcast in the z-key plan is the one-row global
    min/max bounds; the interleave itself is a fused projection (no
    data-sized exchange)."""
    from streaming_cdc_spark.queries import QUERIES

    plan = (
        QUERIES["zorder_layout"](spark, "/root/testdata/sf0.01")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in plan
    assert "hashpartitioning(event_id" not in plan


def test_pq_adc_scan_carries_no_vectors_past_encode(spark):
    """ADC ranks integer code sums: after encoding, the window input
    must be (q, neighbor, adc_micro) — the raw embedding column never
    shuffles."""
    from streaming_cdc_spark.queries import QUERIES

    df = QUERIES["pq_adc_topk"](spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert ex and all("embedding" not in l for l in ex), ex


def test_parquet_aggregate_pushdown_serves_from_footers(spark):
    """At 100 TB, COUNT/MIN/MAX over a partition-pruned slice should
    be answered from parquet footer statistics, not by scanning data:
    with the v2 parquet source and aggregatePushdown on, the scan node
    carries PushedAggregation and the values still match the v1 scan
    path. This is the one optimizer surface the default v1 session
    cannot exercise — pinned here with a scoped conf flip."""
    from pyspark.sql import functions as F

    old_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    old_pd = spark.conf.get("spark.sql.parquet.aggregatePushdown")
    agg_cols = [
        F.count(F.lit(1)).alias("n"),
        F.min("l_quantity").alias("mn"),
        F.max("l_quantity").alias("mx"),
    ]
    ref = (
        spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        .agg(*agg_cols)
        .collect()[0]
    )
    try:
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        df = spark.read.parquet(
            "/root/testdata/sf0.01/lineitem.parquet"
        ).agg(*agg_cols)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert (
            "PushedAggregation: [COUNT(*), MIN(l_quantity), MAX(l_quantity)]"
            in plan
        ), plan[:1500]
        got = df.collect()[0]
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", old_v1)
        spark.conf.set("spark.sql.parquet.aggregatePushdown", old_pd)
    assert tuple(got) == tuple(ref)


def test_cached_plan_keeps_output_partitioning(spark):
    """operators/clustering.py:sym_edges caches the symmetrized edges as
    repartition(n, "u") so each loop round shuffles only the labels. That
    relies on a Spark default, pinned here:
    spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=false
    keeps AQE from re-planning (coalescing) the cached plan's output
    partitioning, so a join on u reads the cache with no exchange —
    the labels side is the only ENSURE_REQUIREMENTS shuffle."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "false"
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    edges = (
        spark.range(200)
        .select((F.col("id") % 50).alias("u"), F.col("id").alias("v"))
        .repartition("u")
        .persist()
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        edges.count()
        labels = spark.range(50).select(F.col("id").alias("u"), F.col("id").alias("l"))
        joined = edges.join(labels, "u")
        joined.collect()
        # the adaptive plan prints its final plan first, then the initial one
        plan = joined._jdf.queryExecution().executedPlan().toString().rsplit("== Initial Plan ==", 1)[0]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        edges.unpersist()
    assert plan.count("ENSURE_REQUIREMENTS") == 1, plan
