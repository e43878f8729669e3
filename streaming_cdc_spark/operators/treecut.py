"""Offline dendrogram cut with recomputed scores (C15, cut_tree.py):
load a dendrogram edge list + leaf embeddings, propagate vector sums
bottom-up, score each internal node as the similarity of its
children's centroids, and emit flat clusters by threshold cut.

Physical split: the EMBEDDINGS stay distributed — per-node vector
sums come from the pointer-doubling ancestor closure (shared with
metrics/purity.py) joined to posexploded leaf vectors, and the
children-centroid similarity reduces to per-position sum/dot
aggregations, so only scalar (node, score) rows plus the <= 3n
pointer skeleton ever reach the driver. The subtree walk itself runs
driver-side over the skeleton, mirroring cut_tree.py:41-103.

Algebra: with normalized centroids, score(u) = cos(sum_1, sum_2)
(counts cancel); unnormalized, score(u) = dot(sum_1, sum_2) /
(cnt_1 * cnt_2) — either way only per-position sums are needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streaming_cdc_spark.metrics.purity import ancestor_closure


def _node_scores(
    edges: DataFrame,
    leaf_vectors: DataFrame,
    id_col: str,
    vec_col: str,
    normalize: bool,
) -> dict:
    """(node -> children-centroid similarity) for every binary
    internal node, computed distributed; returns a small scalar map."""
    vec = leaf_vectors.select(
        F.col(id_col).alias("leaf"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"),
    )
    # tree leaves = uids never appearing as a parent; the closure spans
    # ALL nodes, so restrict to leaf rows before counting/summing
    internal = (
        edges.filter(F.col("parent_uid").isNotNull()).select("parent_uid").distinct()
    )
    tree_leaves = edges.select("uid").join(
        internal.withColumnRenamed("parent_uid", "uid"), "uid", "leftanti"
    )
    closure = (
        ancestor_closure(edges)
        .select(F.col("uid").alias("leaf"), F.col("anc").alias("node"))
        .join(tree_leaves.withColumnRenamed("uid", "leaf"), "leaf", "leftsemi")
    )
    # a leaf is its own (trivial) subtree: include self-assignments so
    # children that are leaves get centroids too
    assign = closure.unionByName(
        tree_leaves.select(F.col("uid").alias("leaf"), F.col("uid").alias("node"))
    )
    sums = (
        assign.join(vec, "leaf")
        .groupBy("node", "pos")
        .agg(F.sum("val").alias("s"))
    )
    counts = assign.groupBy("node").agg(F.count("*").alias("cnt"))

    pairs = (
        edges.filter(F.col("parent_uid").isNotNull())
        .groupBy(F.col("parent_uid").alias("node"))
        .agg(F.sort_array(F.collect_list("uid")).alias("ch"), F.count("*").alias("nch"))
        .filter(F.col("nch") == 2)
        .select("node", F.col("ch")[0].alias("c1"), F.col("ch")[1].alias("c2"))
    )
    s1 = sums.select(F.col("node").alias("c1"), "pos", F.col("s").alias("s1"))
    s2 = sums.select(F.col("node").alias("c2"), "pos", F.col("s").alias("s2"))
    per_pos = pairs.join(s1, "c1").join(s2, ["c2", "pos"])
    agg = per_pos.groupBy("node", "c1", "c2").agg(
        F.sum(F.col("s1") * F.col("s2")).alias("dot"),
        F.sum(F.col("s1") * F.col("s1")).alias("n1sq"),
        F.sum(F.col("s2") * F.col("s2")).alias("n2sq"),
    )
    if normalize:
        scored = agg.select(
            "node",
            F.when(
                (F.col("n1sq") > 0) & (F.col("n2sq") > 0),
                F.col("dot") / F.sqrt(F.col("n1sq") * F.col("n2sq")),
            )
            .otherwise(F.lit(float("-inf")))
            .alias("score"),
        )
    else:
        c1n = counts.select(F.col("node").alias("c1"), F.col("cnt").alias("cnt1"))
        c2n = counts.select(F.col("node").alias("c2"), F.col("cnt").alias("cnt2"))
        scored = (
            agg.join(c1n, "c1")
            .join(c2n, "c2")
            .select(
                "node",
                (F.col("dot") / (F.col("cnt1") * F.col("cnt2"))).alias("score"),
            )
        )
    return {r["node"]: r["score"] for r in scored.collect()}


def block_dendrogram(
    df: DataFrame, id_col: str = "vec_id", label_col: str | None = None
) -> DataFrame:
    """Deterministic id-block binary dendrogram over ``df``: the
    level-l ancestor of leaf ``id`` is block ``id >> l`` (internal uid
    "i{l}_{k}"), up to the root at L = ceil(log2(max_id + 1)).

    Pure id arithmetic — no driver-side tree build — so the WHOLE
    re-scored cut (children-centroid cosines + threshold walk,
    cut_tree.py:41-103 semantics) becomes SQL-replayable: this is the
    fixture tree the full-oracle ``tree_cut_clusters`` query cuts
    (VERDICT r3 #2). Sparse id ranges simply yield single-child
    chain nodes, which the cut recurses through (they never score).
    Distributed shape: one explode to n*L block rows, one distinct —
    no collect."""
    import math

    max_id = df.agg(F.max(id_col)).first()[0]
    levels = max(1, math.ceil(math.log2(max_id + 1))) if max_id else 1
    # label (leaf rows only) marks leaves for the purity metrics,
    # which identify leaves as label-carrying rows
    label_cols = (
        [F.col(label_col).cast("string").alias("label")] if label_col else []
    )
    leaf = df.select(
        F.col(id_col).cast("string").alias("uid"),
        F.format_string("i1_%d", F.expr(f"shiftright({id_col}, 1)")).alias(
            "parent_uid"
        ),
        *label_cols,
    )
    lv = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.sequence(F.lit(1), F.lit(levels))).alias("l"),
    )
    internal = (
        lv.select("l", F.expr("shiftright(_id, l)").alias("k"))
        .distinct()
        .select(
            F.format_string("i%d_%d", "l", "k").alias("uid"),
            F.when(
                F.col("l") < levels,
                F.format_string("i%d_%d", F.col("l") + 1, F.expr("shiftright(k, 1)")),
            ).alias("parent_uid"),
            *([F.lit(None).cast("string").alias("label")] if label_col else []),
        )
    )
    return leaf.unionByName(internal)


def cut_dendrogram(
    edges: DataFrame,
    leaf_vectors: DataFrame,
    threshold: float,
    id_col: str = "uid",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Returns (uid, cluster_id) for every leaf; cluster_id = lexical
    min leaf uid of the emitted subtree."""
    spark = edges.sparkSession
    edge_rows = edges.select("uid", "parent_uid").collect()
    parent = {r["uid"]: r["parent_uid"] for r in edge_rows}
    children: dict[str, list[str]] = {}
    for u, p in parent.items():
        if p is not None:
            children.setdefault(p, []).append(u)
    roots = [u for u, p in parent.items() if p is None]

    scores = _node_scores(edges, leaf_vectors, id_col, vec_col, normalize)
    neg_inf = float("-inf")

    out: list[tuple[str, str]] = []
    for root in roots:
        stack = [root]
        while stack:
            node = stack.pop()
            ch = children.get(node, [])
            if not ch or scores.get(node, neg_inf) >= threshold:
                leaves = []
                s2 = [node]
                while s2:
                    cur = s2.pop()
                    cc = children.get(cur, [])
                    if cc:
                        s2.extend(cc)
                    else:
                        leaves.append(cur)
                rep = min(leaves)
                out.extend((l, rep) for l in leaves)
            else:
                stack.extend(ch)
    return spark.createDataFrame(out, "uid string, cluster_id string")
