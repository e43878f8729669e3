"""GRINCH hierarchical clustering, dendrogram purity (golden 0.75
fixture), and tree cut."""

import numpy as np
import pytest

from streaming_cdc_spark.metrics.purity import dendrogram_purity_df
from streaming_cdc_spark.operators.grinch import GrinchTree, grinch_dendrogram, grinch_per_key
from streaming_cdc_spark.operators.treecut import cut_dendrogram

# The reference's golden tree (tests/fixtures/tree.tsv shape):
#        0
#       / \
#      a   1
#         / \
#        b   2
#           / \
#          c   d     labels: a,b white; c,d black -> purity 0.75
FIXTURE_EDGES = [
    ("0", None, None),
    ("a", "0", "white"),
    ("1", "0", None),
    ("b", "1", "white"),
    ("2", "1", None),
    ("c", "2", "black"),
    ("d", "2", "black"),
]


def test_purity_golden_075(spark):
    edges = spark.createDataFrame(FIXTURE_EDGES, "uid string, parent_uid string, label string")
    assert dendrogram_purity_df(edges).first()["purity"] == pytest.approx(0.75)


def test_purity_perfect_tree(spark):
    edges = spark.createDataFrame(
        [
            ("r", None, None),
            ("x", "r", None),
            ("y", "r", None),
            ("x1", "x", "A"),
            ("x2", "x", "A"),
            ("y1", "y", "B"),
            ("y2", "y", "B"),
        ],
        "uid string, parent_uid string, label string",
    )
    assert dendrogram_purity_df(edges).first()["purity"] == pytest.approx(1.0)


def clustered_vectors():
    rng = np.random.default_rng(5)
    centers = np.eye(3)
    rows = []
    for i in range(24):
        c = i % 3
        v = centers[c] + rng.normal(scale=0.05, size=3)
        rows.append((i, [float(x) for x in v], f"L{c}"))
    return rows


def test_grinch_recovers_clusters():
    tree = GrinchTree(dim=3)
    rows = clustered_vectors()
    for i, v, lab in rows:
        tree.insert(np.array(v), external=i, label=lab)
    flat = tree.flat_clusters(threshold=0.9)
    by_cluster = {}
    for ext, cid in flat.items():
        by_cluster.setdefault(cid, []).append(ext)
    # three well-separated clusters of 8
    sizes = sorted(len(v) for v in by_cluster.values())
    assert sizes == [8, 8, 8]
    for members in by_cluster.values():
        assert len({m % 3 for m in members}) == 1


def test_grinch_bounded_leaves():
    tree = GrinchTree(dim=3, active_leaf_limit=5)
    for i, v, lab in clustered_vectors():
        tree.insert(np.array(v), external=i, label=lab)
        assert sum(tree.is_active_leaf) <= 6  # limit+1 transiently before prune
    assert sum(tree.is_active_leaf) <= 5


def test_grinch_dendrogram_purity(spark):
    df = spark.createDataFrame(clustered_vectors(), "vec_id long, embedding array<double>, label string")
    edges = grinch_dendrogram(df)
    # well-separated clusters -> near-perfect dendrogram purity
    assert dendrogram_purity_df(edges).first()["purity"] > 0.95


def test_grinch_per_key(spark):
    rows = [(k, i + 100 * ki, v, lab) for ki, k in enumerate(["p", "q"]) for i, v, lab in clustered_vectors()]
    df = spark.createDataFrame(rows, "cat string, vec_id long, embedding array<double>, label string")
    edges = grinch_per_key(df, key_col="cat", id_col="vec_id", label_col="label")
    keys = {r["key"] for r in edges.select("key").distinct().collect()}
    assert keys == {"p", "q"}
    # per-key trees have their own roots
    roots = edges.filter("parent_uid is null").collect()
    assert len(roots) == 2


def test_cut_dendrogram(spark):
    df = spark.createDataFrame(clustered_vectors(), "vec_id long, embedding array<double>, label string")
    tree_edges = grinch_dendrogram(df)
    leaf_vecs = df.selectExpr("cast(vec_id as string) as uid", "embedding")
    cut = cut_dendrogram(tree_edges, leaf_vecs, threshold=0.9)
    got = {r["uid"]: r["cluster_id"] for r in cut.collect()}
    assert len(got) == 24
    # same-modulo leaves share a cluster
    by_cluster = {}
    for uid, cid in got.items():
        by_cluster.setdefault(cid, []).append(int(uid))
    for members in by_cluster.values():
        assert len({m % 3 for m in members}) == 1


def test_cut_dendrogram_unnormalized_hand_tree(spark):
    # 4-leaf balanced tree; unnormalized path divides the sum-dot by
    # the product of subtree LEAF counts (r2 closure-restriction fix).
    edges = spark.createDataFrame(
        [
            ("a", "p1", "x"),
            ("b", "p1", "x"),
            ("c", "p2", "y"),
            ("d", "p2", "y"),
            ("p1", "root", None),
            ("p2", "root", None),
            ("root", None, None),
        ],
        "uid string, parent_uid string, label string",
    )
    vecs = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.0]), ("c", [0.0, 1.0]), ("d", [0.0, 1.0])],
        "uid string, embedding array<double>",
    )
    from streaming_cdc_spark.operators.treecut import cut_dendrogram

    # score(p1)=score(p2)=1.0, score(root)=0.0 -> cut at the root's children
    got = {r["uid"]: r["cluster_id"] for r in cut_dendrogram(edges, vecs, 0.5, normalize=False).collect()}
    assert got == {"a": "a", "b": "a", "c": "c", "d": "c"}
    # threshold below the root score keeps everything together
    got_all = {r["cluster_id"] for r in cut_dendrogram(edges, vecs, -0.5, normalize=False).collect()}
    assert got_all == {"a"}


def test_grinch_per_key_purity_golden(spark):
    """Per-key trees preserve per-key dendrogram purity: each key gets
    well-separated clusters -> purity ~1.0 per key, and a deliberately
    label-shuffled key scores strictly lower (the fixture-tree golden
    logic applied per key)."""
    good = clustered_vectors()
    # shuffled labels: same geometry, labels decoupled from structure
    # (i%2 alternates WITHIN each i%3 geometric cluster, so every
    # cluster holds a label mix — a pure relabeling like (i+1)%3
    # would keep purity at 1.0)
    bad = [(i, v, ["x", "y"][i % 2]) for i, (_, v, _) in enumerate(good)]
    rows = [("good", i, v, lab) for i, v, lab in good] + [
        ("bad", i + 1000, v, lab) for i, v, lab in bad
    ]
    df = spark.createDataFrame(rows, "cat string, vec_id long, embedding array<double>, label string")
    edges = grinch_per_key(df, key_col="cat", id_col="vec_id", label_col="label").persist()
    purities = {}
    for key in ("good", "bad"):
        p = dendrogram_purity_df(edges.filter(edges.key == key).drop("key")).first()["purity"]
        purities[key] = p
    assert purities["good"] > 0.95
    assert purities["bad"] < purities["good"]


def test_per_key_purity_matches_per_tree_golden(spark):
    """dendrogram_purity_per_key on a forest == dendrogram_purity_df
    per member tree: the 0.75 fixture and the perfect tree under one
    forest, with COLLIDING uids across keys (the prefix must isolate
    the closures)."""
    from streaming_cdc_spark.metrics.purity import dendrogram_purity_per_key

    perfect = [
        ("0", None, None),
        ("a", "0", None),
        ("1", "0", None),
        ("b", "a", "A"),
        ("c", "a", "A"),
        ("d", "1", "B"),
        ("e", "1", "B"),
    ]
    rows = [("f075",) + e for e in FIXTURE_EDGES] + [("p1",) + e for e in perfect]
    edges = spark.createDataFrame(
        rows, "key string, uid string, parent_uid string, label string"
    )
    got = {r["key"]: r["purity"] for r in dendrogram_purity_per_key(edges).collect()}
    assert got == {"f075": pytest.approx(0.75), "p1": pytest.approx(1.0)}


def test_block_dendrogram_structure(spark):
    """The id-block fixture tree: one root, every non-root's parent
    exists, leaves = input ids, and a sparse id range produces
    single-child chain nodes that the cut recurses through."""
    from streaming_cdc_spark.operators.treecut import block_dendrogram

    # sparse ids force single-child chains (e.g. block i2_3 covers
    # only id 14's branch)
    df = spark.createDataFrame([(i,) for i in (0, 1, 2, 3, 14)], "vec_id long")
    edges = block_dendrogram(df)
    rows = {r["uid"]: r["parent_uid"] for r in edges.collect()}
    roots = [u for u, p in rows.items() if p is None]
    assert roots == ["i4_0"]  # max_id 14 -> L = ceil(log2(15)) = 4
    assert all(p in rows for p in rows.values() if p is not None)
    leaves = {u for u in rows if not u.startswith("i")}
    assert leaves == {"0", "1", "2", "3", "14"}
    # id 14's level-1..3 ancestors each have exactly one child present
    children: dict[str, list[str]] = {}
    for u, p in rows.items():
        if p is not None:
            children.setdefault(p, []).append(u)
    assert children["i1_7"] == ["14"]
    assert children["i2_3"] == ["i1_7"]
    assert children["i3_1"] == ["i2_3"]


def test_tree_cut_oracle_margin(spark):
    """tree_cut_clusters' oracle equality relies on every node score
    keeping a safe distance from TCUT_TAU (float sums accumulate in
    different orders on Spark vs DuckDB). Pin the sf0.01 margin so a
    testdata regeneration that lands a score near the threshold fails
    HERE with a named cause instead of as an opaque hash mismatch
    (same pattern as the md5 injectivity pin in test_dedup)."""
    from streaming_cdc_spark.operators.treecut import _node_scores, block_dendrogram
    from streaming_cdc_spark.queries.cdc import TCUT_TAU
    from streaming_cdc_spark.tables import load

    emb = load(spark, "/root/testdata/sf0.01", "embeddings")
    edges = block_dendrogram(emb)
    leaf_vecs = emb.selectExpr("cast(vec_id as string) as uid", "embedding")
    scores = _node_scores(edges, leaf_vecs, "uid", "embedding", True)
    margin = min(abs(s - TCUT_TAU) for s in scores.values())
    assert margin > 1e-5, (
        f"score within {margin:.2e} of TCUT_TAU={TCUT_TAU} — cross-engine "
        "float drift could flip the cut; pick a new TCUT_TAU "
        "(see tree_cut_clusters docstring)"
    )


def test_block_dendrogram_purity_hand_values(spark):
    """Fixture-tree purity against hand-computed values: perfectly
    separated labels score 1.0; labels interleaved across the two
    level-1 blocks score 0.5 (every same-label pair's LCA is the
    root: 1*1*2/4 per label, p* = 2)."""
    from streaming_cdc_spark.metrics.purity import dendrogram_purity_df
    from streaming_cdc_spark.operators.treecut import block_dendrogram

    sep = spark.createDataFrame(
        [(0, "A"), (1, "A"), (2, "B"), (3, "B")], "vec_id long, label string"
    )
    p1 = dendrogram_purity_df(block_dendrogram(sep, label_col="label")).first()["purity"]
    assert p1 == 1.0
    mix = spark.createDataFrame(
        [(0, "A"), (1, "B"), (2, "A"), (3, "B")], "vec_id long, label string"
    )
    p2 = dendrogram_purity_df(block_dendrogram(mix, label_col="label")).first()["purity"]
    assert p2 == 0.5


def test_forest_invariants_single_leaf_key(spark):
    """A key whose forest is ONE leaf (no internal edges) must still
    appear in the invariants projection with all_binary=True — the
    inner-join form silently dropped it (code-review r5)."""
    from streaming_cdc_spark.queries.cdc import forest_invariants

    edges = spark.createDataFrame(
        [
            # key "a": single-leaf forest
            ("a", "7", None, "x"),
            # key "b": two leaves under one internal root
            ("b", "n1", None, None),
            ("b", "3", "n1", "y"),
            ("b", "4", "n1", "y"),
        ],
        "key string, uid string, parent_uid string, label string",
    )
    got = {r["key"]: r.asDict() for r in forest_invariants(edges).collect()}
    assert got["a"] == {
        "key": "a", "n_leaves": 1, "n_internal": 0, "n_roots": 1,
        "leaf_id_sum": 7, "all_binary": True,
    }
    assert got["b"]["n_leaves"] == 2 and got["b"]["all_binary"] is True
