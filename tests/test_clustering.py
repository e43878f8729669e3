"""Clustering operators: greedy exact replay (reference fixture) and
connected components vs a hand union-find."""

from functools import partial

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from streaming_cdc_spark.operators import clustering as C
from streaming_cdc_spark.operators.clustering import connected_components, threshold_clusters
from streaming_cdc_spark.operators.greedy import greedy_cluster_numpy, greedy_clusters


def test_greedy_one_hot_fixture():
    # Reference tests/nn_thresh_test.py:8-18 — 5x2 one-hot, thr 0.5
    example = np.array([[1, 0], [0, 1], [1, 0], [1, 0], [0, 1]], dtype=float)
    observed = greedy_cluster_numpy(example, threshold=0.5)
    assert observed.tolist() == [0, 1, 0, 0, 1]


def test_greedy_window_limit():
    # 3 identical vectors; window limit 1 still chains them transitively
    e = np.array([[1, 0], [1, 0], [1, 0]], dtype=float)
    assert greedy_cluster_numpy(e, 0.5, strategy="backwards", limit=1).tolist() == [0, 0, 0]


def test_greedy_spark_wrapper(spark):
    rows = [(10, [1.0, 0.0]), (11, [0.0, 1.0]), (12, [1.0, 0.0]), (13, [1.0, 0.0]), (14, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["cluster_id"] for r in greedy_clusters(df, 0.5).collect()}
    assert got == {10: 10, 11: 11, 12: 10, 13: 10, 14: 11}


@pytest.mark.parametrize("cutoff", [0, 2_000_000])  # distributed loop vs driver union-find
def test_connected_components(spark, cutoff):
    vertices = spark.range(1, 8).select(F.col("id").alias("v"))
    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "u long, v long")
    got = {
        r["v"]: r["cluster_id"]
        for r in connected_components(vertices, edges, driver_cutoff=cutoff).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


@pytest.mark.parametrize("cutoff", [0, 2_000_000])
def test_connected_components_chain(spark, cutoff):
    # long path graph: exercises pointer jumping (O(log n) rounds)
    n = 64
    vertices = spark.range(n).select(F.col("id").alias("v"))
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "u long, v long")
    got = {
        r["v"]: r["cluster_id"]
        for r in connected_components(vertices, edges, driver_cutoff=cutoff).collect()
    }
    assert all(c == 0 for c in got.values())


def test_connected_components_custom_id_col(spark):
    vertices = spark.createDataFrame([(10,), (11,), (12,)], "vec_id long")
    edges = spark.createDataFrame([(10, 12)], "u long, v long")
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in connected_components(vertices, edges, id_col="vec_id").collect()
    }
    assert got == {10: 10, 11: 11, 12: 10}


@pytest.mark.parametrize("cutoff", [0, 2_000_000])
def test_connected_components_duplicate_and_reversed_edges(spark, cutoff):
    # r10 loop rewrite (self-loop fold + u-partitioned cached edges):
    # duplicate edges, both-direction pairs and a DESCENDING id chain
    # (the min label enters at the tail, so own-label retention and
    # the jump both do real work) must not change the assignment on
    # either physical path
    vertices = spark.range(1, 10).select(F.col("id").alias("v"))
    edges = spark.createDataFrame(
        [(9, 8), (8, 9), (8, 7), (7, 6), (7, 6), (6, 1), (3, 4)],
        "u long, v long",
    )
    got = {
        r["v"]: r["cluster_id"]
        for r in connected_components(vertices, edges, driver_cutoff=cutoff).collect()
    }
    assert got == {1: 1, 2: 2, 3: 3, 4: 3, 5: 5, 6: 1, 7: 1, 8: 1, 9: 1}


@pytest.mark.parametrize("cutoff", [0, 2_000_000])
def test_connected_components_edge_only_vertices(spark, cutoff):
    # edges referencing ids absent from `vertices` must not leak into
    # the output on either physical path (r1 ADVICE)
    vertices = spark.createDataFrame([(1,), (2,)], "v long")
    edges = spark.createDataFrame([(1, 9), (9, 2)], "u long, v long")
    got = {
        r["v"]: r["cluster_id"]
        for r in connected_components(vertices, edges, driver_cutoff=cutoff).collect()
    }
    assert set(got) == {1, 2}


@st.composite
def _graphs(draw):
    """(n_vertices, edges) over ids 0..n-1 plus a few isolated ids:
    disjoint cliques, long chains (random id order), stars and
    descending-id chains (the min label enters at the tail)."""
    kind = draw(st.sampled_from(["cliques", "chain", "star", "desc_chain"]))
    n = draw(st.integers(2, 40))
    ids = draw(st.permutations(range(n)))
    if kind == "cliques":
        k = draw(st.integers(1, 6))
        groups = [ids[i : i + k] for i in range(0, n, k)]
        edges = [(a, b) for g in groups for i, a in enumerate(g) for b in g[i + 1 :]]
    elif kind == "chain":
        edges = list(zip(ids, ids[1:]))
    elif kind == "star":
        edges = [(ids[0], b) for b in ids[1:]]
    else:
        edges = [(i, i - 1) for i in range(n - 1, 0, -1)]
    return n + draw(st.integers(0, 3)), edges


def _reference_cc(edges):
    """{vertex: least vertex id of its component} by a plain
    path-halving union-find, independent of the engine's kernel."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_union_find_kernel_matches_reference():
    """The one CC kernel (driver path and distributed seed pass) equals
    the reference on the shapes that break a vertex-hooking min-label
    loop — a long chain in random id order, a descending chain — plus
    disjoint cliques and random sparse edges, and solves them all well
    inside a wall bound that such a loop (thousands of rounds on the
    chain) misses."""
    import time

    rng = np.random.default_rng(12)
    perm = rng.permutation(50_000)
    cliques = [(a, b) for k in range(0, 3000, 6) for a in range(k, k + 6) for b in range(a + 1, k + 6)]
    graphs = {
        "random_chain": np.stack([perm[:-1], perm[1:]], axis=1),
        "desc_chain": np.array([(i, i - 1) for i in range(20_000, 0, -1)]),
        "cliques": np.array(cliques),
        "sparse": rng.integers(0, 100_000, size=(60_000, 2)),
    }
    start = time.perf_counter()
    for name, e in graphs.items():
        ids, roots = C._union_find(e[:, 0], e[:, 1])
        assert dict(zip(ids.tolist(), roots.tolist())) == _reference_cc(e.tolist()), name
    ids, roots = C._union_find(np.array([], dtype=np.int64), np.array([], dtype=np.int64))
    assert len(ids) == len(roots) == 0
    assert time.perf_counter() - start < 5


def _cc(spark, n, edges, **kw):
    vertices = spark.range(n).select(F.col("id").alias("v"))
    e = spark.createDataFrame(edges, "u long, v long")
    return {r["v"]: r["cluster_id"] for r in connected_components(vertices, e, **kw).collect()}


def _all_partitions():
    """Cache sym_edges over spark.sql.shuffle.partitions partitions even
    for a test-sized graph, which its size would put in one."""
    from unittest import mock

    return mock.patch.object(C, "_SMALL_GRAPH_EDGES", 0)


def _group_jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("parts", [1, 3, 7])
@settings(max_examples=5, deadline=None)
@given(graph=_graphs())
def test_connected_components_seeded_loop_equals_union_find(spark, parts, graph):
    """The locally seeded distributed loop and the driver path both
    equal a reference union-find at any shuffle-partition count (the
    seed pass solves each partition's edges, so the partitioning
    decides how much of each component a seed sees)."""
    n, edges = graph
    truth = {v: v for v in range(n)} | _reference_cc(edges)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        with _all_partitions():
            got = _cc(spark, n, edges, driver_cutoff=0)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert got == truth
    assert _cc(spark, n, edges) == truth


def test_connected_components_cliques_converge_in_one_round(spark):
    """Every vertex of a clique sees the whole clique in its own
    partition's edges, so the seed is already the fixpoint: the cliques
    run exactly the jobs of a one-edge graph, which the seed solves
    too."""
    edges = [(a, b) for g in range(5) for a in range(6 * g, 6 * g + 6) for b in range(a + 1, 6 * g + 6)]
    truth = {v: v - v % 6 if v < 30 else v for v in range(32)}  # 30, 31 isolated
    with _all_partitions():
        assert _cc(spark, 32, edges, driver_cutoff=0) == truth
        cliques = _group_jobs(spark, "cc_cliques", lambda: _cc(spark, 32, edges, driver_cutoff=0))
        one_edge = _group_jobs(spark, "cc_one_edge", lambda: _cc(spark, 32, [(0, 1)], driver_cutoff=0))
    assert cliques == one_edge


def test_connected_components_empty_edges_distributed_stops(spark):
    """An empty edge set on the distributed path is all singletons and
    runs a small constant number of jobs: the label sum of an empty
    graph is NULL, which never compares equal, so convergence must not
    hinge on it (else the loop never stops)."""
    got = {}
    jobs = _group_jobs(spark, "cc_empty", lambda: got.update(_cc(spark, 5, [], driver_cutoff=0)))
    assert got == {v: v for v in range(5)}
    assert jobs <= 10


# every graph entry point as (spark, edges) -> DataFrame; CC runs its
# distributed path, BFS starts from nodes 0 and 7
GRAPH_OPS = {
    "connected_components": lambda spark, e: C.connected_components(
        spark.range(50).select(F.col("id").alias("v")), e, driver_cutoff=0
    ),
    "triangle_counts": lambda spark, e: C.triangle_counts(e),
    "kcore_peel": lambda spark, e: C.kcore_peel(e, k=2, rounds=3),
    "resource_allocation_links": lambda spark, e: C.resource_allocation_links(e, top_n=10),
    "label_propagation": lambda spark, e: C.label_propagation(e, 3),
    "pagerank_exact": lambda spark, e: C.pagerank_exact(e, 3),
    "bfs_distances": lambda spark, e: C.bfs_distances(
        e, spark.createDataFrame([(0,), (7,)], "node long"), rounds=3
    ),
    "clustering_coefficients": lambda spark, e: C.clustering_coefficients(e),
}
# a chain of pairs plus a triangle (0, 1, 2) and a long link
GRAPH_RAW = [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (0, 2), (7, 30)]


def _cache_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("op", list(GRAPH_OPS))
def test_graph_op_reads_edges_once(spark, op):
    """Every graph entry point evaluates its edge relation exactly once,
    across two collects of its result, and leaves no cached relation
    behind: the symmetric edges are read from one cache, and the result
    is materialized before that cache is released. An accumulator counts
    the rows the edge source emits; the cache is spread over every
    shuffle partition, as for a large graph."""
    seen = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for b in batches:
            seen.add(len(b))
            yield b

    plain = spark.createDataFrame(GRAPH_RAW, "u long, v long")
    edges = plain.mapInPandas(count_rows, "u long, v long")
    run = partial(GRAPH_OPS[op], spark)
    spark.catalog.clearCache()
    with _all_partitions():
        out = run(edges)
    assert _cache_empty(spark)
    first, second = sorted(out.collect()), sorted(out.collect())
    assert seen.value == len(GRAPH_RAW)
    assert first == second == sorted(run(plain).collect())
    assert first


_EMPTY_RESULT = {
    "connected_components": [(v, v) for v in range(50)],
    "bfs_distances": [(0, 0), (7, 0)],  # the seeds, at distance 0
}


@pytest.mark.parametrize("op", list(GRAPH_OPS))
def test_graph_op_degenerate_inputs(spark, op):
    """An empty edge set gives each operator its defined result (CC: all
    singletons; BFS: the seeds alone; empty elsewhere), and a
    single-partition run (one input partition, one shuffle partition)
    gives the same result as the default layout — both within a small
    fixed job bound, with no cached relation left behind. The default
    layout is spread over every shuffle partition for the comparison."""
    run = partial(GRAPH_OPS[op], spark)
    spark.catalog.clearCache()
    out = []
    empty = spark.createDataFrame([], "u long, v long")
    jobs = _group_jobs(spark, f"{op}_empty", lambda: out.extend(run(empty).collect()))
    assert sorted(map(tuple, out)) == _EMPTY_RESULT.get(op, [])
    assert jobs <= 15
    assert _cache_empty(spark)

    edges = spark.createDataFrame(GRAPH_RAW, "u long, v long")
    with _all_partitions():
        want = sorted(run(edges).collect())
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        got = []
        jobs = _group_jobs(
            spark, f"{op}_one_part", lambda: got.extend(run(edges.coalesce(1)).collect())
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert sorted(got) == want
    assert jobs <= 40
    assert _cache_empty(spark)


def test_threshold_clusters_matches_union_find(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    tau = 0.5
    # driver-side truth: union-find over exact cosine graph
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    edges = [(i, j) for i in range(40) for j in range(i + 1, 40) if sims[i, j] > tau]
    expected = {i: i for i in range(40)} | _reference_cc(edges)
    got = {r["vec_id"]: r["cluster_id"] for r in threshold_clusters(df, tau).collect()}
    assert got == expected


def test_greedy_propagation_equals_max_parent_chase():
    """The oracle for greedy_parity_clusters relies on: the
    reference's forward id-propagation == parent-chase with
    parent(j) = max predecessor above threshold. Fuzz it."""
    import numpy as np

    from streaming_cdc_spark.operators.greedy import greedy_cluster_numpy

    rng = np.random.default_rng(11)
    for trial in range(20):
        n, d = rng.integers(5, 40), 4
        mat = rng.normal(size=(int(n), d))
        tau = float(rng.uniform(0.1, 0.9))
        labels = greedy_cluster_numpy(mat, tau)
        e = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sims = e @ e.T
        parent = {}
        for j in range(int(n)):
            preds = [i for i in range(j) if sims[j, i] > tau]
            if preds:
                parent[j] = max(preds)
        chase = {}
        for j in range(int(n)):
            r = j
            while r in parent:
                r = parent[r]
            chase[j] = chase.get(parent.get(j, j), r)
        want = np.array([chase[j] for j in range(int(n))])
        assert (labels == want).all(), (trial, labels, want)


def test_triangle_counts_match_bruteforce_random(spark):
    """Degree orientation must produce every triangle exactly once —
    fuzzed over random graphs including a planted clique (hub skew)."""
    import itertools
    import random

    from streaming_cdc_spark.operators.clustering import triangle_counts

    rng = random.Random(17)
    for trial in range(3):
        edges = {tuple(sorted(rng.sample(range(30), 2))) for _ in range(90)}
        edges |= set(itertools.combinations(range(5), 2))  # planted K5
        edges = sorted(edges)
        df = spark.createDataFrame(edges, "u long, v long")
        got = {
            r["vec_id"]: r["n_triangles"] for r in triangle_counts(df).collect()
        }
        es = set(edges)
        nodes = sorted({x for e in edges for x in e})
        want: dict[int, int] = {}
        for a, b, c in itertools.combinations(nodes, 3):
            if (a, b) in es and (b, c) in es and (a, c) in es:
                for x in (a, b, c):
                    want[x] = want.get(x, 0) + 1
        assert got == want, trial
        # K5 corners sit in >= C(4,2)=6 triangles each
        assert all(got[x] >= 6 for x in range(5))


def test_pagerank_exact_path_graph_golden(spark):
    """Hand-computed one-iteration ranks on the path graph 1-2-3
    (micro-units): deg = 1,2,1; contributions 2->1: 500000,
    1->2 + 3->2: 2000000, 2->3: 500000; damped =
    150000 + 85%*c // 100."""
    from streaming_cdc_spark.operators.clustering import pagerank_exact

    edges = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
    got = {
        r["vec_id"]: r["rank_micro"]
        for r in pagerank_exact(edges, iterations=1).collect()
    }
    assert got == {1: 575000, 2: 1850000, 3: 575000}


def test_pagerank_exact_partition_invariant(spark):
    """Integer micro-unit arithmetic: identical ranks under 1- and
    16-partition inputs (the property float PageRank lacks)."""
    from streaming_cdc_spark.operators.clustering import pagerank_exact

    import random

    rnd = random.Random(7)
    edges = [(rnd.randrange(40), 40 + rnd.randrange(40)) for _ in range(300)]
    df1 = spark.createDataFrame(edges, "u long, v long").repartition(1)
    df16 = spark.createDataFrame(edges, "u long, v long").repartition(16)
    a = sorted(map(tuple, pagerank_exact(df1, 3).collect()))
    b = sorted(map(tuple, pagerank_exact(df16, 3).collect()))
    assert a == b


def test_bfs_distances_path_single_seed(spark):
    from streaming_cdc_spark.operators.clustering import bfs_distances

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "u long, v long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, seeds, rounds=3).collect()
    }
    # nodes beyond 3 hops are absent, not infinite
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bfs_distances_multi_seed_takes_min(spark):
    from streaming_cdc_spark.operators.clustering import bfs_distances

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "u long, v long"
    )
    seeds = spark.createDataFrame([(0,), (5,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, seeds, rounds=3).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 2, 4: 1, 5: 0}


def test_bfs_distances_edges_are_undirected(spark):
    from streaming_cdc_spark.operators.clustering import bfs_distances

    edges = spark.createDataFrame([(7, 8)], "u long, v long")
    seeds = spark.createDataFrame([(8,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, seeds, rounds=2).collect()
    }
    assert got == {8: 0, 7: 1}
