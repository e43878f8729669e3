"""Distributed clustering operators.

The reference's greedy threshold clustering (nn_thresh.py:138-152,
baseline.py:64-69) is order-dependent; its order-independent core is
"mentions linked by a similarity edge end in the same cluster" —
i.e. connected components of the threshold graph. We implement CC as
the scalable semantics (documented equivalence: identical partitions
whenever the greedy pass links transitively, which holds for the
`backwards` strategy with no window limit), and keep the exact
sequential replay in operators/greedy.py for parity mode.

Physical strategy for CC is adaptive, like AQE join selection, and
both sides run the ONE union-find kernel, ``_union_find``:
- the threshold graph is usually MUCH smaller than the input (only
  near-duplicate pairs survive). Up to ``driver_cutoff`` edges the
  kernel solves the collected edges on the driver and the labels go
  back over Arrow — same pattern as the driver-side Hungarian: the
  *aggregate* is small even when the data is not.
- above the cutoff: min-label propagation with pointer jumping over
  only the edge-touched vertices (isolated vertices are singletons by
  construction and never enter the loop), cheap sum-based
  convergence test, localCheckpoint lineage truncation. The labels
  start from a SEED pass, not the identity: one ``mapInPandas`` over
  the cached, u-partitioned symmetric edges runs the kernel per
  partition, and each vertex starts at the least root any partition
  gave it. Components that one partition sees whole (cliques, stars)
  are then already final, and the loop's first round only confirms
  the fixpoint.
Both paths end in one left join of the vertices against the labels.
The kernel hooks roots, never vertices: a vertex-hooking min-label
loop is quadratic on chains (a label moves one hop per round, so a
chain in random id order takes thousands of rounds).

Every graph operator here reads its edges through ``sym_edges`` and
materializes its result before that cache is released.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streaming_cdc_spark.operators.similarity import cosine_self_edges
from streaming_cdc_spark.session import ensure_package_on_executors


def _long_pairs(edges: DataFrame) -> DataFrame:
    """(u, v) as longs, input self-edges dropped."""
    return edges.select(F.col("u").cast("long"), F.col("v").cast("long")).filter(
        F.col("u") != F.col("v")
    )


# below this many input edges sym_edges caches ONE partition: the
# sf0.1 graph queries (tens of thousands of edges) ran ~25% slower on
# 8-16 partitions, where task scheduling outweighs the work
_SMALL_GRAPH_EDGES = 50_000


@contextmanager
def sym_edges(edges: DataFrame, self_loops: bool = False):
    """The symmetric edge set of an undirected edge list (u, v), for
    the duration of a ``with`` block: both orientations of every
    input edge, deduplicated, input self-edges dropped, plus the
    self-loops (u, u) and (v, v) of every touched vertex when
    ``self_loops`` (connected_components folds "keep own label" into
    its neighbor-min through them).

    The input is read once: it is persisted and counted, and each
    edge is exploded into its orientations (``e.union(e.flipped)``
    would plan the edge subtree, often a similarity kernel, twice).
    The result is cached PRE-PARTITIONED on the probe key u (a cached
    plan keeps its output partitioning,
    spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=false,
    pinned in tests/test_plans.py), so a per-round join on u shuffles
    only the O(V) side, never the O(E) edges, and ``groupBy("u")``
    needs no shuffle. A localCheckpoint would drop that partitioning.
    The planner reuses it only from spark.sql.shuffle.partitions
    partitions up, and sees it only once the cache is built (a plan
    meeting an unbuilt cache builds it once per reference), so a
    graph of ``_SMALL_GRAPH_EDGES`` or more edges is cached over that
    many partitions, a smaller one as ONE partition (one task per
    stage), and the cache is built before the block starts. It is
    released when the block exits: anything returned from inside must
    be materialized first (localCheckpoint)."""
    e = _long_pairs(edges).persist()
    pairs = [
        F.struct(F.col("u"), F.col("v")),
        F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
    ]
    if self_loops:
        pairs += [
            F.struct(F.col("u"), F.col("u").alias("v")),
            F.struct(F.col("v").alias("u"), F.col("v")),
        ]
    try:
        n_parts = int(e.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        if e.count() < _SMALL_GRAPH_EDGES:
            n_parts = 1
        sym = (
            e.select(F.explode(F.array(*pairs)).alias("_p"))
            .select("_p.u", "_p.v")
            .repartition(n_parts, "u")
            .distinct()
            .persist()
        )
        try:
            sym.write.format("noop").mode("overwrite").save()
            e.unpersist()
            yield sym
        finally:
            sym.unpersist()
    finally:
        e.unpersist()


def _union_find(u, v):
    """Connected components of the edge arrays (u, v) of equal length:
    ``(ids, roots)``, the sorted distinct vertex ids and each one's
    least component id. Numpy union-find on dense indices (index order
    is id order): each round hooks every tree ROOT to the least root
    across its edges, then shortcuts until every vertex points at a
    root (Shiloach-Vishkin, O(log n) rounds). A root only ever hooks
    to a smaller root of its own component, so pointers strictly
    decrease (no cycles) and each component's least vertex stays its
    root."""
    import numpy as np

    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = inv[: len(u)], inv[len(u):]
    lab = np.arange(len(ids))
    while True:
        m = np.minimum(lab[a], lab[b])
        new = lab.copy()
        np.minimum.at(new, lab[a], m)
        np.minimum.at(new, lab[b], m)
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, lab):
            return ids, ids[lab]
        lab = new


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "v",
    driver_cutoff: int = 2_000_000,
) -> DataFrame:
    """Connected components of (vertices, edges).

    vertices: DataFrame with ``id_col``; edges: DataFrame (u, v).
    Returns (id_col, cluster_id) where cluster_id = min vertex id in
    the component — deterministic regardless of execution order.
    """
    vs = vertices.select(F.col(id_col).cast("long").alias("v"))
    e = _long_pairs(edges)
    if driver_cutoff:
        # Size the graph with ONE fully-parallel pass over a persisted
        # edge set. take(cutoff+1) looks cheaper but wave-scans the
        # result stage (1, 4, 16... partitions SEQUENTIALLY) — when
        # edges come off an expensive kernel stage that serializes the
        # whole matmul. The big path re-reads the cache it would have
        # had to materialize anyway; the small path collects via Arrow.
        e = e.persist()
    try:
        if driver_cutoff and e.count() <= driver_cutoff:
            import pandas as pd

            pdf = e.toPandas()
            ids, roots = _union_find(pdf["u"].to_numpy(), pdf["v"].to_numpy())
            # Arrow path: near the 2M-edge cutoff the mapping is
            # ~millions of rows, where the pickle-per-row
            # createDataFrame is seconds and the Arrow batch milliseconds
            lbl = vs.sparkSession.createDataFrame(
                pd.DataFrame({"v": ids, "l": roots}), "v long, l long"
            )
        else:
            # The self-loops make the touched-vertex set come from the
            # cached edges instead of a second pass over the edge
            # subtree, and the loop's self-loop row folds "keep own
            # label" into the neighbor-min aggregate — min over
            # (neighbors ∪ self) IS least(own, nbr min) — so no
            # per-round join on the label relation is needed; each
            # round shuffles only the labels.
            with sym_edges(e, self_loops=True) as sym:
                lbl = _min_labels(sym)
    finally:
        e.unpersist()
    # the labels cover exactly the edge-touched vertices; the rest of
    # `vs` are singletons. Edges may reference ids absent from
    # `vertices`, so only the requested vertex set is returned.
    return vs.join(lbl, "v", "left").select(
        F.col("v").alias(id_col), F.coalesce("l", "v").alias("cluster_id")
    )


def _min_labels(sym: DataFrame) -> DataFrame:
    """(v, l): l = least vertex id of v's component, over a
    ``sym_edges(self_loops=True)`` relation; the returned labels are
    materialized (the convergence probe is the action)."""

    def local_roots(batches):
        # union-find over ONE partition's edges
        import numpy as np
        import pandas as pd

        frames = list(batches)
        if not frames:
            return
        ids, roots = _union_find(
            np.concatenate([f["u"].to_numpy() for f in frames]),
            np.concatenate([f["v"].to_numpy() for f in frames]),
        )
        yield pd.DataFrame({"v": ids, "l": roots})

    # SEED the labels with one local pass instead of the identity: each
    # partition of the u-partitioned edges solves its own components,
    # and a vertex starts at the min root any partition gave it. A
    # partition holds every edge of each vertex hashed to it, so a
    # component with one vertex adjacent to all the others (a clique, a
    # star: the near-duplicate groups of a threshold graph) is solved
    # whole by that vertex's partition; when every component is, the
    # seed IS the fixpoint and the loop stops after one round. The loop
    # stays correct: every seed label is a vertex of v's own component
    # (a local root is reachable from v over real edges), the component
    # minimum m seeds to itself (no vertex below m is reachable), and a
    # round only lowers a label to a neighbor's label or to the label
    # of the vertex it names. Labels thus stay inside the component and
    # never drop below m, and the fixpoint (no vertex above a
    # neighbor's label) gives the whole component m — the same answer
    # as starting from the identity.
    ensure_package_on_executors(sym.sparkSession)  # local_roots calls _union_find
    lbl = (
        sym.mapInPandas(local_roots, "v long, l long")
        .groupBy("v")
        .agg(F.min("l").alias("l"))
        .localCheckpoint(eager=False)
    )
    # labels only ever decrease; the total strictly falls until a
    # round changes nothing and is bounded below, so the loop ends —
    # equal sums mean a fixed point (one cheap agg, no join). The seed's
    # own sum is the baseline, so an already-converged seed stops after
    # one round; a NULL sum means no edges at all.
    prev_sum = _label_sum(lbl)
    while prev_sum is not None:
        # min over (neighbors ∪ self): the self-loop row carries v's own
        # label through the same aggregate
        stepped = (
            sym.join(lbl.withColumnRenamed("v", "u"), "u")
            .groupBy("v")
            .agg(F.min("l").alias("l"))
        )
        # pointer jump: l(v) <- l(l(v)) — collapses chains in O(log n)
        # LAZY localCheckpoint (optimization r9): the convergence agg
        # is the action that materializes it, so each iteration runs ONE
        # driver job instead of two (eager checkpoint job + agg job).
        lbl = (
            stepped.alias("a")
            .join(
                stepped.select(F.col("v").alias("l"), F.col("l").alias("l2")).alias("b"),
                "l",
                "left",
            )
            .select(F.col("v"), F.least(F.col("l"), F.coalesce("l2", "l")).alias("l"))
            .localCheckpoint(eager=False)
        )
        cur_sum = _label_sum(lbl)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return lbl


def _label_sum(lbl: DataFrame):
    """Σ labels as an exact decimal — the loop's convergence probe."""
    return lbl.agg(F.sum(F.col("l").cast("decimal(38,0)"))).first()[0]


def threshold_clusters(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "auto",
) -> DataFrame:
    """Cosine-threshold clustering: similarity edges -> connected
    components. Returns (id_col, cluster_id). ``strategy`` forwards to
    cosine_self_edges (auto = broadcast small / exact-blocked large)."""
    edges = cosine_self_edges(df, threshold, id_col=id_col, vec_col=vec_col, strategy=strategy)
    return connected_components(df.select(id_col), edges.select("u", "v"), id_col=id_col)


def find_threshold(
    df: DataFrame,
    target: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iters: int = 30,
    epsilon: float | None = None,
    lo: float = 0.0,
    hi: float = 1.0,
    vec_cols_weights: list[tuple[str, float]] | None = None,
    n: int | None = None,
    sim_round: int | None = None,
) -> tuple[float, DataFrame]:
    """C7 bisection (nn_thresh.py:118-135): binary-search the
    similarity threshold until the cluster count is within epsilon of
    target. Driver loop; each iteration re-filters the cached scored
    edges and re-runs CC — the scores are computed once.

    The kernel defaults to cosine on ``vec_col``; pass
    ``vec_cols_weights`` to bisect over the EP1 blended kernel
    instead (weighted sum of per-column cosines, combo.py:21-41) —
    e.g. finding the threshold that recovers the gold entity count
    over feature vectors.

    Only edges with sim > lo are ever materialized: every queried
    threshold is a midpoint strictly inside (lo, hi), so sim <= lo
    pairs can never survive a filter. For centered embeddings that is
    ~half of all pairs; callers with a tighter prior on the answer
    (e.g. near-dup thresholds ~0.9) should pass lo to shrink the
    persisted graph further — this is what keeps the cached edge set
    from being the dense O(n^2) score matrix the reference OOMs on.
    """
    from streaming_cdc_spark.operators.similarity import BROADCAST_MAX_ROWS, blended_self_edges

    if n is None:
        n = df.count()
    if epsilon is None:
        epsilon = n / 1000.0
    # n is already known — pick the kernel strategy here instead of
    # letting strategy='auto' re-count the input
    strategy = "broadcast" if n <= BROADCAST_MAX_ROWS else "blocked"
    if vec_cols_weights is not None:
        scored = blended_self_edges(
            df, vec_cols_weights, threshold=lo, id_col=id_col, strategy=strategy
        )
    else:
        scored = cosine_self_edges(
            df, threshold=lo, id_col=id_col, vec_col=vec_col, strategy=strategy
        )
    if sim_round is not None:
        # quantize the kernel BEFORE any threshold comparison: every
        # visited midpoint is dyadic with >6 decimals past iteration 6
        # (e.g. 0.3671875), so a 6-dp sim is never within float drift
        # of a midpoint — this is what makes the bisection SCHEDULE
        # itself replayable by an independent engine (the raw-sim
        # schedule had edges 9e-9 from a midpoint at sf0.1). The only
        # residual hazard is a raw sim within cross-engine drift
        # (~6e-16 measured) of a x.xxxxxx5 rounding boundary —
        # min distance 1.5e-13 on the testdata, pinned by test.
        scored = scored.withColumn("sim", F.round("sim", sim_round))
    scored = scored.persist()
    vertices = df.select(id_col)
    best = None
    for _ in range(max_iters):
        threshold = (lo + hi) / 2
        clusters = connected_components(
            vertices, scored.filter(F.col("sim") > threshold), id_col=id_col
        )
        n_clusters = clusters.select(F.countDistinct("cluster_id")).first()[0]
        best = (threshold, clusters)
        if abs(n_clusters - target) <= epsilon:
            break
        if n_clusters < target:
            lo = threshold
        else:
            hi = threshold
    # materialize the chosen clustering BEFORE dropping the cached
    # edges — otherwise any downstream action recomputes the O(n^2)
    # cosine self-join from scratch
    if best is not None:
        best = (best[0], best[1].localCheckpoint())
    scored.unpersist()
    return best


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts via DEGREE-ORIENTED
    wedge closing (Schank/Wagner '05; the MapReduce form is Suri &
    Vassilvitskii WWW'11 "node iterator++") — the join order that
    makes triangle counting feasible on power-law graphs.

    Naive wedge counting joins edges on their shared endpoint: a hub
    of degree d contributes d^2 wedges, quadratic in the hottest key.
    Orienting every edge from its LOWER-degree endpoint (ties by id)
    caps every node's out-degree at O(sqrt(m)), so the wedge join
    emits at most m^(3/2) rows TOTAL regardless of skew — each
    triangle is generated exactly once, apexed at its minimum-degree
    corner. Both stages are plain equi-joins: wedges on apex, closure
    against the undirected edge list on the canonical (min, max) key.

    Input: undirected edges (u, v). Output: (vec_id, n_triangles) for
    every node in at least one triangle."""
    with sym_edges(edges) as sym:
        return _triangles(sym).localCheckpoint()


def _triangles(sym: DataFrame) -> DataFrame:
    """triangle_counts over a prepared ``sym_edges`` relation."""
    e = sym.filter(F.col("u") < F.col("v"))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    ed = e.join(deg.select("u", F.col("d").alias("du")), "u").join(
        deg.select(F.col("u").alias("v"), F.col("d").alias("dv")), "v"
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    o1 = oriented.select("src", F.col("dst").alias("_a"))
    o2 = oriented.select("src", F.col("dst").alias("_b"))
    wedges = o1.join(o2, "src").filter(F.col("_a") < F.col("_b"))
    closed = wedges.join(
        e,
        (F.least("_a", "_b") == F.col("u")) & (F.greatest("_a", "_b") == F.col("v")),
        "left_semi",
    )
    members = closed.select(F.explode(F.array("src", "_a", "_b")).alias("vec_id"))
    return members.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """LOCAL CLUSTERING COEFFICIENT per node, 2*tri(v) /
    (deg(v)*(deg(v)-1)) (Watts-Strogatz), for every node of degree
    >= 2. Triangles come from the triangle_counts kernel and degrees
    from a keyed count over the same prepared edge set; nodes with
    zero triangles emit 0 through the LEFT join (an inner join would
    silently drop exactly the open-neighborhood nodes). The
    denominator is exact integer; the coefficient is one fixed-order
    double division, rounded 6dp. Output:
    (vec_id, degree, n_triangles, lcc_r)."""
    nt = F.coalesce(F.col("n_triangles"), F.lit(0).cast("long"))
    with sym_edges(edges) as sym:
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("degree"))
        return (
            deg.filter(F.col("degree") >= 2)
            .select(F.col("u").alias("vec_id"), "degree")
            .join(_triangles(sym), "vec_id", "left")
            .select(
                "vec_id",
                "degree",
                nt.alias("n_triangles"),
                F.round(
                    F.lit(2.0)
                    * nt.cast("double")
                    / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
                    6,
                ).alias("lcc_r"),
            )
            .localCheckpoint()
        )


def kcore_peel(edges: DataFrame, k: int = 2, rounds: int = 3) -> DataFrame:
    """K-CORE PEELING, ``rounds`` synchronous rounds (the parallel
    peeling step of Matula & Beck '83's core decomposition, as run
    distributed in e.g. GraphX/Pregel formulations): each round drops
    every node whose CURRENT degree is below ``k`` together with its
    edges, so surviving degrees only shrink. A fixed round count keeps
    the op SQL-replayable (unrolled CTE rounds, the pagerank_exact /
    label_propagation convention) — full convergence is just "run
    until a round removes nothing", and on bounded-degeneracy near-dup
    graphs the peel converges in a handful of rounds.

    Scale shape per round: ONE probe key. The surviving node set is
    semi-joined against the u-partitioned edges on u (the edges stay
    put; only the O(V) node set moves), and each surviving edge counts
    toward its v endpoint — a keyed count whose partial aggregate is
    what shuffles — so "both endpoints alive" needs no second probe of
    the edges on v: a node's current degree is its number of alive
    neighbors, kept only while the node itself is alive. Input:
    undirected edges (u, v). Output: (vec_id, deg) for every node
    still alive after ``rounds`` peels, with its degree in the
    surviving subgraph — the standard triage signal for "densely
    interlinked near-duplicate mass" (a template family survives the
    peel; incidental pairwise matches do not)."""
    with sym_edges(edges) as sym:
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        for _ in range(rounds):
            # LAZY checkpoint: the node set is referenced twice per
            # round and feeds the next; materialization rides the
            # final action (one driver job, not one per round)
            alive = deg.filter(F.col("d") >= k).select("u").localCheckpoint(eager=False)
            deg = (
                sym.join(alive, "u", "left_semi")
                .groupBy(F.col("v").alias("u"))
                .agg(F.count(F.lit(1)).alias("d"))
                .join(alive, "u", "left_semi")
            )
        return deg.select(
            F.col("u").alias("vec_id"), F.col("d").cast("long").alias("deg")
        ).localCheckpoint()


def resource_allocation_links(
    edges: DataFrame,
    top_n: int = 100,
    unit: int = 1_000_000,
    max_center_degree: int | None = None,
) -> DataFrame:
    """RESOURCE-ALLOCATION link prediction (Zhou, Lü & Zhang '09 —
    the no-logarithm sibling of Adamic-Adar, chosen for the same
    reason ari_score avoids ln(): 1/deg needs no transcendental):
    score(a, b) = Σ_{w ∈ N(a) ∩ N(b)} 1/deg(w), computed in EXACT
    integer micro-units (unit div deg — associative, order-free,
    identical in Spark `div` and DuckDB `//`). High-scoring non-edges
    are the "these two templates share rare hubs" signal — the
    recommendation/triage row over the near-dup graph.

    Physical: one wedge join on the center node (each center of
    degree d emits C(d,2) pairs — inherently quadratic in the hottest
    hub, like every common-neighbor definition; the standard
    recall-trading mitigation, ``max_center_degree``, drops
    super-hubs as CENTERS the way cap_shingle_df caps hot shingles —
    a capped hub still scores via its other neighbors' wedges), one
    keyed integer sum, one left join flagging existing edges, then
    the two-pass global rank. Output:
    (u, v, score_micro, linked, rank), top_n rows under the total
    (score DESC, u, v) order."""
    from streaming_cdc_spark.operators.ranking import row_number_global

    with sym_edges(edges) as sym:
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        centers = deg if max_center_degree is None else deg.filter(
            F.col("d") <= max_center_degree
        )
        n1 = sym.join(centers.select("u"), "u", "left_semi")
        wedges = (
            n1.select(F.col("u").alias("_w"), F.col("v").alias("_a"))
            .join(n1.select(F.col("u").alias("_w"), F.col("v").alias("_b")), "_w")
            .filter(F.col("_a") < F.col("_b"))
        )
        contrib = wedges.join(deg.withColumnRenamed("u", "_w"), "_w").select(
            "_a", "_b", F.expr(f"{unit} div d").alias("_c")
        )
        sc = contrib.groupBy("_a", "_b").agg(
            F.sum("_c").cast("long").alias("score_micro")
        )
        linked = sym.filter(F.col("u") < F.col("v")).select(
            F.col("u").alias("_a"), F.col("v").alias("_b"), F.lit(1).alias("_l")
        )
        flagged = sc.join(linked, ["_a", "_b"], "left").select(
            F.col("_a").alias("u"),
            F.col("_b").alias("v"),
            "score_micro",
            F.coalesce(F.col("_l"), F.lit(0)).cast("long").alias("linked"),
        )
        return row_number_global(
            flagged, [F.desc("score_micro"), F.asc("u"), F.asc("v")], "rank"
        ).filter(F.col("rank") <= top_n).localCheckpoint()


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
) -> DataFrame:
    """Semi-synchronous LABEL PROPAGATION community detection
    (Raghavan et al. 2007) over an undirected edge list, made fully
    deterministic: labels start as node ids; each iteration every
    node adopts its neighbors' MODE label with the tie broken by the
    SMALLEST label (count DESC, label ASC — a total order, so the
    classic random tie-break's nondeterminism is gone). Distinct
    from connected components: the mode vote splits dense
    subregions a MIN-label propagation would merge.

    Fixed ``iterations`` keeps it SQL-replayable (unrolled CTE
    pairs, like pagerank_exact). Scale shape per iteration: one
    edges-x-labels equi-join + one keyed count + one keyed
    row_number window (partitioned by node — never a single
    partition). Returns (vec_id, community) for every node with at
    least one edge."""
    from pyspark.sql import Window as W

    with sym_edges(edges) as sym:
        labels = sym.select("u").distinct().withColumn("lbl", F.col("u"))
        for _ in range(iterations):
            votes = (
                sym.join(labels.withColumnRenamed("u", "_n"), sym["u"] == F.col("_n"))
                .groupBy("v", "lbl")
                .agg(F.count(F.lit(1)).alias("_c"))
            )
            w = W.partitionBy("v").orderBy(F.desc("_c"), F.asc("lbl"))
            labels = (
                votes.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select(F.col("v").alias("u"), "lbl")
            )
        return labels.select(
            F.col("u").alias("vec_id"), F.col("lbl").alias("community")
        ).localCheckpoint()


def pagerank_exact(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    unit: int = 1_000_000,
    seed_pred=None,
) -> DataFrame:
    """Damped PageRank over an UNDIRECTED edge list, in INTEGER
    MICRO-UNITS so every step is exact and order-free — the same
    trick as the PQ ADC integer LUTs: float PageRank sums
    contributions in whatever order partitions merge, which breaks
    cross-engine/cross-partitioning hash parity; integer sums and
    integer division are associative and identical in Spark (`div`)
    and DuckDB (`//`).

    rank_0 = unit per node; per iteration
    rank'(v) = (100-d)% * unit // 100  +  d% * SUM_u(rank(u) // deg(u)) // 100.

    Fixed ``iterations`` keeps the op SQL-replayable (unrolled CTEs),
    like the bisection oracle's unrolled stages. Scale shape: each
    iteration is one join (edges x ranks, both keyed on the source)
    + one keyed sum — the standard distributed PageRank step; degrees
    are computed once. No driver-side state. Returns
    (vec_id, rank_micro) with rank in micro-units (BIGINT).
    """
    base = (100 - damping_pct) * unit // 100
    # PERSONALIZED variant (random walk with restart, Jeh & Widom
    # '03): ``seed_pred`` is a boolean Column over the node id `u` —
    # teleport mass (the base term, and the initial rank) goes ONLY
    # to seed nodes; None keeps the uniform classic form.
    if seed_pred is None:
        init_r, base_col = F.lit(unit), F.lit(base)
    else:
        init_r = F.when(seed_pred, F.lit(unit)).otherwise(F.lit(0))
        base_col = F.when(seed_pred, F.lit(base)).otherwise(F.lit(0))
    with sym_edges(edges) as sym:
        # lazy: computed once inside the final checkpoint, then its
        # 2-per-iteration references read it
        deg = (
            sym.groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .localCheckpoint(eager=False)
        )
        # every node of the symmetrized graph has deg >= 1 and at least
        # one in-neighbor (in = out), so no dangling-mass handling needed
        ranks = deg.select("u", init_r.cast("long").alias("r"))
        for _ in range(iterations):
            contrib = (
                sym.join(ranks, "u")
                .join(deg, "u")
                .select("v", F.expr("r div d").alias("c"))
                .groupBy("v")
                .agg(F.sum("c").alias("s"))
            )
            ranks = deg.join(contrib, deg["u"] == contrib["v"], "left").select(
                deg["u"],
                (
                    base_col
                    + F.expr(f"({damping_pct} * coalesce(s, 0)) div 100")
                ).cast("long").alias("r"),
            )
        return ranks.select(
            F.col("u").alias("vec_id"), F.col("r").alias("rank_micro")
        ).localCheckpoint()


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    id_col: str = "node",
    rounds: int = 3,
) -> DataFrame:
    """Bounded-hop BFS: exact shortest-path distances (hop counts)
    from a seed set over an undirected edge list, ``rounds``
    synchronous relaxation rounds — the distributed Bellman-Ford
    step specialised to unit weights. Each round is one equi-join
    (frontier against edges) + one keyed MIN — the standard
    scale-shape: no driver-side frontier, no global sort, per-round
    cost linear in |edges|. Fixed round count keeps it SQL-replayable
    (the unrolled-CTE oracle family: kcore_peel_rounds,
    label_propagation). Returns (id_col, dist) for every node within
    ``rounds`` hops of a seed; dist is exact BIGINT, so the
    min-reduction is order-free under any partitioning."""
    # per-round checkpoints are LAZY: plan truncation is immediate,
    # materialization rides the final checkpoint — one driver job
    dist = seeds.select(
        F.col(id_col).alias("node"), F.lit(0).cast("long").alias("dist")
    ).localCheckpoint(eager=False)
    with sym_edges(edges) as sym:
        for _ in range(rounds):
            prop = sym.join(dist, sym.u == dist.node).select(
                F.col("v").alias("node"), (F.col("dist") + 1).alias("dist")
            )
            dist = (
                dist.unionByName(prop)
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
                .localCheckpoint(eager=False)
            )
        return dist.select(F.col("node").alias(id_col), "dist").localCheckpoint()
