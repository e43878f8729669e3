"""IVF (inverted-file) approximate nearest neighbor search — the
scale path for similarity search over embedding columns
(BASELINE.json north_star; complements the sign-LSH bucket path).

Index = seeded MLlib KMeans over the corpus: each vector is assigned
to its nearest centroid (one "cell"). A query probes only the
``n_probe`` nearest cells and exact-re-ranks candidates — corpus
scans drop from O(n) to O(n * n_probe / k) per query. Centroids are
a tiny broadcast; cell assignment is a shuffle-free map; the probe is
an equi-join on cell id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.ml.clustering import KMeans
from pyspark.ml.functions import array_to_vector
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fit_ivf_index(
    corpus: DataFrame,
    k: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, np.ndarray]:
    """Returns (assigned corpus with a `cell` column, centroid matrix).
    Deterministic for a fixed seed + input."""
    prepped = corpus.withColumn("_v", array_to_vector(F.col(vec_col).cast("array<double>")))
    km = KMeans(k=k, seed=seed, featuresCol="_v", predictionCol="cell")
    model = km.fit(prepped)
    assigned = model.transform(prepped).drop("_v")
    centroids = np.stack([np.asarray(c) for c in model.clusterCenters()])
    return assigned, centroids


def ivf_top_k(
    queries: DataFrame,
    assigned_corpus: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the n_probe nearest cells per query, exact cosine re-rank
    within candidates. Output: (q, neighbor, sim, rank) — rank ties
    break on neighbor id."""
    from streaming_cdc_spark.session import ensure_package_on_executors

    spark = queries.sparkSession
    ensure_package_on_executors(spark)
    cent = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    bc = spark.sparkContext.broadcast(cent)

    def probe_cells(batches):
        c = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = np.linalg.norm(a, axis=1, keepdims=True)
            n[n == 0.0] = 1.0
            sims = (a / n) @ c.T
            order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
            out_q, out_vec, out_cell = [], [], []
            for i in range(len(pdf)):
                for cell in order[i]:
                    out_q.append(pdf[id_col].iloc[i])
                    out_vec.append(pdf[vec_col].iloc[i])
                    out_cell.append(int(cell))
            yield pd.DataFrame({"q": out_q, "q_vec": out_vec, "cell": out_cell})

    from streaming_cdc_spark.session import fan_out

    probes = fan_out(queries.select(id_col, vec_col)).mapInPandas(
        probe_cells, f"q long, q_vec array<double>, cell int"
    )
    cand = probes.join(
        assigned_corpus.select(
            F.col(id_col).alias("neighbor"), F.col(vec_col).alias("n_vec"), "cell"
        ),
        "cell",
    ).filter(F.col("q") != F.col("neighbor"))
    from streaming_cdc_spark.functions.vectors import as_double, cosine

    scored = cand.withColumn("sim", cosine(as_double("q_vec"), as_double("n_vec")))
    from pyspark.sql import Window as W

    w = W.partitionBy("q").orderBy(F.desc("sim"), F.asc("neighbor"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q", "neighbor", F.round("sim", 6).alias("sim"), "rank")
    )


def collect_seed_centroids(
    df: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, list[float]]]:
    """Deterministic seeds: the k lowest-id vectors, collected to the
    driver. Centroid sets are driver-sized by construction in Lloyd's
    (MLlib holds them on the driver too) — k rows, not data-sized."""
    rows = df.orderBy(id_col).limit(k).select(id_col, vec_col).collect()
    return [(int(r[0]), [float(x) for x in r[1]]) for r in rows]


def _lit_vec(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def nearest_centroid(
    vec_col: str | Column, centroids: list[tuple[int, list[float]]]
) -> Column:
    """struct(dist, cid) of the nearest centroid by L2, ties to the
    smaller centroid id — as ONE shuffle-free expression: the centroid
    set is inlined as literals (the Lloyd's-assignment analogue of a
    broadcast join, minus the 8x row expansion and the argmin window).
    Struct comparison is lexicographic, so array_min implements
    (min dist, then min cid) exactly."""
    from streaming_cdc_spark.functions.vectors import as_double, l2_distance

    v = as_double(vec_col)
    return F.array_min(
        F.array(
            *[
                F.struct(l2_distance(v, _lit_vec(c)).alias("dist"), F.lit(cid).cast("long").alias("cid"))
                for cid, c in centroids
            ]
        )
    )


def centroid_ranking(
    vec_col: str | Column, centroids: list[tuple[int, list[float]]], n_probe: int
) -> Column:
    """Array of the n_probe nearest centroid ids (L2, ties to smaller
    cid) — the IVF probe list, again as one shuffle-free expression
    over inlined centroids."""
    from streaming_cdc_spark.functions.vectors import as_double, l2_distance

    v = as_double(vec_col)
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(l2_distance(v, _lit_vec(c)).alias("dist"), F.lit(cid).cast("long").alias("cid"))
                for cid, c in centroids
            ]
        )
    )
    return F.slice(ranked, 1, n_probe).getField("cid")


def semantic_dedup_flags(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means cells
    bound the candidate set, then embedding-cosine near-dups above
    ``tau`` are dropped WITHIN each cell only — the O(n^2) pairwise
    scan becomes k independent O((n/k)^2) cell scans, the property
    that makes embedding dedup tractable at corpus scale.

    Deterministic keep rule: a vector is dropped iff some same-cell
    vector with a SMALLER id is within tau (greedy min-id keep, the
    same rule as resolve_near_dups). Returns (id_col, cid, dropped).

    Physical plan: assignment is a shuffle-free literal-centroid map
    (nearest_centroid); candidates are an equi-join on cell id. Scale
    knob is k: grow it with the corpus so cells stay bounded (SemDeDup
    uses n/k ~ 10^4 at 10^9 docs); skewed cells fall to AQE skew-join.
    """
    from streaming_cdc_spark.functions.vectors import as_double, cosine

    best = df.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).alias("_v"),
        nearest_centroid(vec_col, centroids).getField("cid").alias("cid"),
    )
    a = best.select(F.col("cid"), F.col("_id").alias("_u"), F.col("_v").alias("_va"))
    b = best.select(F.col("cid"), F.col("_id").alias("_w"), F.col("_v").alias("_vb"))
    dropped = (
        a.join(b, "cid")
        .filter(F.col("_u") < F.col("_w"))
        .filter(cosine(as_double("_va"), as_double("_vb")) > F.lit(tau))
        .select(F.col("_w").alias("_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return best.join(dropped, "_id", "left").select(
        F.col("_id").alias(id_col),
        "cid",
        F.coalesce("_dropped", F.lit(False)).alias("dropped"),
    )


def semantic_dedup_flags_cells(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """semantic_dedup_flags with the per-cell scan as an Arrow-batched
    numpy matmul (applyInPandas per cell) instead of a per-pair
    Catalyst fold — identical flags, ~20x less CPU per candidate at
    corpus scale. Cell size is the task-memory bound: grow k with the
    corpus (SemDeDup uses n/k ~ 1e4); AQE skew-join handles hot cells.
    """
    from streaming_cdc_spark.session import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)
    best = assign_cells(df, centroids, id_col, vec_col, out_id="_id")

    def score(key, pdf):
        ids = pdf["_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        mat = np.stack(pdf["_v"].to_numpy()[order]).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        mat = mat / norms
        n = len(ids)
        # dropped(j) = exists i<j (id-sorted) with sim > tau.
        # Column-chunked: peak memory O(n * block), not O(n^2) — a
        # skewed cell must not hold its full similarity matrix.
        block = 1024
        dropped = np.zeros(n, dtype=bool)
        for s0 in range(0, n, block):
            s1 = min(s0 + block, n)
            simb = mat[:s1] @ mat[s0:s1].T
            lt = np.arange(s1)[:, None] < np.arange(s0, s1)[None, :]
            dropped[s0:s1] = (lt & (simb > tau)).any(axis=0)
        return pd.DataFrame(
            {"vec_id": ids, "cid": int(key[0]), "dropped": dropped}
        )

    out = best.groupBy("cid").applyInPandas(score, "vec_id long, cid long, dropped boolean")
    return out.withColumnRenamed("vec_id", id_col)


def ivf_exact_top_k(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 3,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVF top-k, fully distributed: every vector probes
    its n_probe nearest cells (literal-centroid ranking), each cell
    scores its (probes x members) block with ONE numpy matmul and
    emits the per-cell top-k (cogroup applyInPandas); a final window
    keeps the global top-k of the <= n_probe*k survivors per query.
    Candidate volume n^2*n_probe/k_cells never materializes — only
    per-cell top-k rows (n * n_probe * k) reach the shuffle."""
    from pyspark.sql import Window as W

    from streaming_cdc_spark.session import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)
    probes = probe_cells_ranked(df, centroids, n_probe, id_col, vec_col, out_id="q")
    corpus = assign_cells(df, centroids, id_col, vec_col, out_id="neighbor")

    def _norm(col):
        mat = np.stack(col.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        return mat / norms

    def score(key, left, right):
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"q": [], "neighbor": [], "sim": []}).astype(
                {"q": "int64", "neighbor": "int64", "sim": "float64"}
            )
        q_all = left["q"].to_numpy()
        n_ids = right["neighbor"].to_numpy()
        C = _norm(right["_v"])
        n_cand = len(n_ids)
        out_q, out_n, out_s = [], [], []
        # probe-chunked: peak memory O(block * members), not
        # O(probes * members) — a skewed cell must not hold its full
        # similarity matrix (32 concurrent 1 GB tasks thrash)
        block = 1024
        for b0 in range(0, len(left), block):
            lb = left.iloc[b0 : b0 + block]
            q_ids = q_all[b0 : b0 + block]
            sims = _norm(lb["_v"]) @ C.T
            # self-pairs out of contention before selection
            sims[q_ids[:, None] == n_ids[None, :]] = -np.inf
            if n_cand > k:
                # O(c) top-k per row: argpartition for the kth value,
                # then take EVERY candidate >= kth (exact under sim
                # ties) and rank only that tiny set by (-sim, neighbor)
                part = np.argpartition(-sims, k - 1, axis=1)[:, :k]
            for i in range(len(q_ids)):
                row = sims[i]
                if n_cand > k:
                    kth = row[part[i]].min()
                    # the -inf guard matters when a row has < k real
                    # candidates: kth is then -inf and plain >= would
                    # resurrect the masked self-pairs
                    cand = np.nonzero((row >= kth) & (row > -np.inf))[0]
                else:
                    cand = np.nonzero(row > -np.inf)[0]
                top = cand[np.lexsort((n_ids[cand], -row[cand]))][:k]
                out_q.extend([q_ids[i]] * len(top))
                out_n.extend(n_ids[top])
                out_s.extend(row[top])
        return pd.DataFrame({"q": out_q, "neighbor": out_n, "sim": out_s})

    cand = (
        probes.groupBy("cid")
        .cogroup(corpus.groupBy("cid"))
        .applyInPandas(score, "q long, neighbor long, sim double")
    )
    w = W.partitionBy("q").orderBy(F.desc("sim"), F.asc("neighbor"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q", "neighbor", "rank", F.round("sim", 6).alias("sim_r"))
    )


# Above this many centroids the inlined-literal expression (O(k*dim)
# interpreted work per row) loses to one numpy (rows x dim) @ (dim x k)
# matmul per Arrow batch. k grows with the corpus (cells stay ~const
# size), so the large-k path is what runs at scale.
LITERAL_CENTROID_MAX = 32


def _centroid_arrays(centroids: list[tuple[int, list[float]]]):
    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    cmat = np.stack([np.asarray(c, dtype=np.float64) for _, c in centroids])
    order = np.argsort(cids, kind="stable")
    return cids[order], cmat[order]


def assign_cells(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
    out_id: str,
) -> DataFrame:
    """(out_id, vec_col, cid): each vector's nearest centroid by L2,
    ties to the smaller centroid id. k <= LITERAL_CENTROID_MAX uses
    the shuffle-free literal expression (JVM, codegen); larger k uses
    one numpy distance matmul per Arrow batch — same result, linear
    in k instead of the k-expressions-per-row interpreted cost."""
    from streaming_cdc_spark.session import ensure_package_on_executors, fan_out

    base = fan_out(df).select(
        F.col(id_col).cast("long").alias(out_id), F.col(vec_col).alias("_v")
    )
    if len(centroids) <= LITERAL_CENTROID_MAX:
        return base.withColumn("cid", nearest_centroid("_v", centroids).getField("cid"))
    ensure_package_on_executors(df.sparkSession)
    cids, cmat = _centroid_arrays(centroids)
    bc = df.sparkSession.sparkContext.broadcast((cids, cmat))

    def gen(batches):
        c_ids, c_mat = bc.value
        c_sq = (c_mat * c_mat).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            # ||a-c||^2 = ||a||^2 + ||c||^2 - 2 a.c ; argmin over the
            # cid-sorted axis -> first minimum == smallest cid on ties
            d2 = c_sq[None, :] - 2.0 * (a @ c_mat.T)
            best = np.argmin(d2, axis=1)
            out = pdf[[out_id]].copy()
            out["_v"] = pdf["_v"]
            out["cid"] = c_ids[best]
            yield out

    return base.mapInPandas(gen, f"{out_id} long, _v array<double>, cid long")


def probe_cells_ranked(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_probe: int,
    id_col: str,
    vec_col: str,
    out_id: str,
    with_rank: bool = False,
) -> DataFrame:
    """(out_id, vec_col, cid) with one row per probed cell — the
    n_probe nearest centroids per vector. Same literal/numpy strategy
    switch as assign_cells. ``with_rank=True`` adds ``rn`` (1-based
    probe rank), so ONE pass serves every probe budget <= n_probe —
    callers sweeping budgets previously re-ran the whole
    assignment-and-join chain per budget (optimization r9)."""
    from streaming_cdc_spark.session import ensure_package_on_executors, fan_out

    base = fan_out(df).select(
        F.col(id_col).cast("long").alias(out_id), F.col(vec_col).alias("_v")
    )
    if len(centroids) <= LITERAL_CENTROID_MAX:
        ranked = base.select(
            out_id,
            "_v",
            F.posexplode(centroid_ranking("_v", centroids, n_probe)).alias(
                "_pos", "cid"
            ),
        )
        out = ranked.withColumn("rn", (F.col("_pos") + 1).cast("int"))
        cols = [out_id, "_v", "cid"] + (["rn"] if with_rank else [])
        return out.select(*cols)
    ensure_package_on_executors(df.sparkSession)
    cids, cmat = _centroid_arrays(centroids)
    bc = df.sparkSession.sparkContext.broadcast((cids, cmat))

    def gen(batches):
        c_ids, c_mat = bc.value
        c_sq = (c_mat * c_mat).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            d2 = c_sq[None, :] - 2.0 * (a @ c_mat.T)
            # stable argsort on (d2, cid-order axis): ties -> smaller cid
            top = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
            n = len(pdf)
            rep = np.repeat(np.arange(n), n_probe)
            out = pd.DataFrame(
                {
                    out_id: pdf[out_id].to_numpy()[rep],
                    "_v": pdf["_v"].to_numpy()[rep],
                    "cid": c_ids[top.ravel()],
                }
            )
            if with_rank:
                out["rn"] = np.tile(
                    np.arange(1, n_probe + 1, dtype=np.int32), n
                )
            yield out

    schema = f"{out_id} long, _v array<double>, cid long"
    if with_rank:
        schema += ", rn int"
    return base.mapInPandas(gen, schema)


def incremental_semantic_dedup_cells(
    old: DataFrame,
    new: DataFrame,
    centroids: list[tuple[int, list[float]]],
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental SemDeDup: classify each NEW vector against the
    existing corpus and the smaller-id part of its own batch, never
    corpus-vs-corpus — the embedding twin of
    dedup.incremental_minhash_dedup (the corpus is already deduped;
    its cells are only probed, not re-scanned). ``centroids`` is the
    CORPUS index (in production: the stored IVF centroids).

    Output one row per new vector: (id_col, cid, status) with status
    'dup_of_corpus' (cosine > tau to any same-cell corpus vector —
    wins), 'dup_in_batch' (to a smaller-id same-cell new vector),
    else 'fresh'. Per-cell kernel: column-chunked numpy matmul with
    only NEW columns — peak memory O(cell * block), compute
    O(cell * new-in-cell)."""
    import numpy as np
    import pandas as pd

    from streaming_cdc_spark.session import ensure_package_on_executors

    ensure_package_on_executors(old.sparkSession)
    both = assign_cells(old, centroids, id_col, vec_col, out_id="_id").withColumn(
        "_side", F.lit(0)
    ).unionByName(
        assign_cells(new, centroids, id_col, vec_col, out_id="_id").withColumn(
            "_side", F.lit(1)
        )
    )

    def score(key, pdf):
        ids = pdf["_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        side = pdf["_side"].to_numpy()[order]
        mat = np.stack(pdf["_v"].to_numpy()[order]).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        mat = mat / norms
        new_idx = np.nonzero(side == 1)[0]
        m = len(new_idx)
        corpus_hit = np.zeros(m, dtype=bool)
        batch_hit = np.zeros(m, dtype=bool)
        old_rows = (side == 0)[:, None]
        block = 1024
        for c0 in range(0, m, block):
            cols = new_idx[c0 : c0 + block]
            above = (mat @ mat[cols].T) > tau
            corpus_hit[c0 : c0 + block] = (above & old_rows).any(axis=0)
            lt = (ids[:, None] < ids[cols][None, :]) & (side == 1)[:, None]
            batch_hit[c0 : c0 + block] = (above & lt).any(axis=0)
        status = np.where(
            corpus_hit, "dup_of_corpus", np.where(batch_hit, "dup_in_batch", "fresh")
        )
        return pd.DataFrame(
            {"vec_id": ids[new_idx], "cid": int(key[0]), "status": status}
        )

    out = both.groupBy("cid").applyInPandas(score, "vec_id long, cid long, status string")
    return out.withColumnRenamed("vec_id", id_col)


# --- Product quantization (Jégou et al. TPAMI'11) -----------------------


def collect_pq_codebooks(
    df: DataFrame,
    m: int = 4,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """Deterministic PQ codebooks: subspace j's codewords are the j-th
    subvectors of the ``ksub`` lowest-id vectors (the same seed rule
    as the deterministic IVF index — driver-sized by construction:
    m * ksub * (dim/m) floats, regardless of corpus size). Codes are
    0..ksub-1 in seed-id order."""
    rows = df.orderBy(id_col).limit(ksub).select(id_col, vec_col).collect()
    dim = len(rows[0][1])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [
            (code, [float(x) for x in r[1][j * sub : (j + 1) * sub]])
            for code, r in enumerate(rows)
        ]
        for j in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encoding: per subspace, the L2-nearest codeword (ties to the
    smaller code). Shuffle-free either way — the same strategy switch
    as assign_cells: m * ksub <= LITERAL_CENTROID_MAX uses literal
    struct comparisons fused into the scan (JVM codegen); production
    codebooks (ksub = 256 per subspace) switch to one broadcast numpy
    distance matmul per subspace per Arrow batch, which is linear in
    ksub instead of the interpreted k-expressions-per-row cost. A
    64-dim float vector (256 B) compresses to m int8-sized codes; at
    100 TB that is the difference between an in-memory ANN index and
    one that spills. Output: (id, code_0..code_{m-1}). The two paths
    agree on this corpus (test forces both and compares) and share
    the smaller-code tie rule, but they are different float
    formulations (sequential fold + sqrt vs expanded BLAS form): a
    vector within ~1e-15 of exactly equidistant between two codewords
    could encode differently per path. The argmin-margin test bounds
    that risk (smallest observed gap >= 9 orders above drift);
    registered queries pin the literal path (ksub=8)."""
    from streaming_cdc_spark.functions.vectors import as_double

    m = len(codebooks)
    sub = len(codebooks[0][0][1])
    base = df.select(F.col(id_col).cast("long").alias(id_col), as_double(vec_col).alias("_v"))
    if m * len(codebooks[0]) <= LITERAL_CENTROID_MAX:
        return base.select(
            id_col,
            *[
                nearest_centroid(F.slice(F.col("_v"), j * sub + 1, sub), codebooks[j])
                .getField("cid")
                .alias(f"code_{j}")
                for j in range(m)
            ],
        )
    from streaming_cdc_spark.session import ensure_package_on_executors, fan_out

    ensure_package_on_executors(df.sparkSession)
    # rows sorted by code id so argmin's first-minimum == smallest
    # code on ties (the literal struct-compare rule); keep the id
    # array in case a caller's codebook is not 0..k-1 consecutive
    cmats = []
    for book in codebooks:
        ordered = sorted(book)
        cmats.append(
            (
                np.array([code for code, _cv in ordered], dtype=np.int64),
                np.array([cv for _code, cv in ordered], dtype=np.float64),
            )
        )
    bc = df.sparkSession.sparkContext.broadcast(cmats)
    base = fan_out(base)

    def gen(batches):
        mats = bc.value
        c_sqs = [(c * c).sum(axis=1) for _ids, c in mats]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            out = pdf[[id_col]].copy()
            for j, ((c_ids, c), c_sq) in enumerate(zip(mats, c_sqs)):
                aj = a[:, j * sub : (j + 1) * sub]
                # ||a-c||^2 up to the row-constant ||a||^2; argmin
                # over the code-ordered axis -> first min == smaller
                # code on ties, matching the literal struct compare
                d2 = c_sq[None, :] - 2.0 * (aj @ c.T)
                out[f"code_{j}"] = c_ids[np.argmin(d2, axis=1)]
            yield out

    schema = f"{id_col} long, " + ", ".join(f"code_{j} long" for j in range(m))
    return base.mapInPandas(gen, schema)


def pq_adc_lut_micro(
    qvec: list[float], codebooks: list[list[tuple[int, list[float]]]]
) -> list[list[int]]:
    """Per-subspace asymmetric-distance lookup table for one query,
    QUANTIZED to integer micro-units (round(d2 * 1e6)): the ADC sum
    becomes pure integer addition — order-free, so Spark and the
    DuckDB oracle cannot drift however they sequence the m adds. The
    only remaining float sits inside each d2 before rounding;
    tests pin every LUT entry's distance to the .5 boundary."""
    m = len(codebooks)
    sub = len(codebooks[0][0][1])
    lut: list[list[int]] = []
    for j in range(m):
        qj = qvec[j * sub : (j + 1) * sub]
        row = []
        for _code, cv in codebooks[j]:
            d2 = 0.0
            for a, b in zip(qj, cv):
                d2 += (a - b) * (a - b)
            row.append(int(round(d2 * 1_000_000)))
        lut.append(row)
    return lut


def pq_adc_topk(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: approximate L2 via the PQ codes — dist(q, x) ~=
    sum_j lut_q[j][code_j(x)]. One scan of the encoded corpus serves
    ALL queries (each query's integer LUT is inlined as literals and
    exploded per row), then a per-query window keeps the k nearest
    (ties to smaller neighbor id). No shuffle touches raw vectors:
    the scan moves m small ints per row, the window ranks
    |queries| * n rows pre-aggregated to candidates only. Output:
    (q, neighbor, adc_micro, rank)."""
    from pyspark.sql import Window

    m = len(codebooks)
    enc = pq_encode(df, codebooks, id_col, vec_col)
    per_q = []
    for qid, qv in queries:
        lut = pq_adc_lut_micro([float(x) for x in qv], codebooks)
        adc = None
        for j in range(m):
            # long terms: int32 accumulation would overflow (ANSI
            # throw) once per-subspace distances reach ~6e8 micro-units
            term = F.element_at(
                F.array(*[F.lit(v).cast("long") for v in lut[j]]),
                F.col(f"code_{j}").cast("int") + 1,
            )
            adc = term if adc is None else (adc + term)
        per_q.append(
            F.struct(F.lit(int(qid)).cast("long").alias("q"), adc.cast("long").alias("adc_micro"))
        )
    w = Window.partitionBy("q").orderBy("adc_micro", "neighbor")
    return (
        enc.select(F.col(id_col).alias("neighbor"), F.explode(F.array(*per_q)).alias("_p"))
        .select(F.col("_p.q").alias("q"), "neighbor", F.col("_p.adc_micro").alias("adc_micro"))
        .filter(F.col("q") != F.col("neighbor"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def centroid_outliers(
    emb: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = 5,
    unit: int = 1_000_000,
    shift: int = 1_000_000,
) -> DataFrame:
    """PER-GROUP EMBEDDING OUTLIERS by distance to the group centroid
    — the "prune the weird vectors" curation step — in EXACT INTEGER
    arithmetic end to end: components quantize to micro-units
    (round(x * unit) + shift; the shift makes every quantized value
    non-negative so the centroid's integer division is
    truncation-safe cross-engine — Spark `div` truncates toward zero
    while DuckDB `//` floors, which only agree on non-negatives),
    the centroid is the per-(group, dim) integer mean (sum div n),
    and the distance is the exact integer sum of squared diffs —
    shift-invariant, order-free under any partitioning (a float
    centroid would hash-drift).

    Physical: one posexplode (rows = n * dim, linear), one
    (group, dim) sum, one broadcast-sized join back (groups * dim
    rows), one keyed sum, one PER-GROUP window rank. Output:
    (<group_col>, <id_col>, dist_q, rank) — the top_k farthest
    vectors per group under the total (dist DESC, id ASC) order."""
    from pyspark.sql import Window as W

    from streaming_cdc_spark.session import fan_out

    q = F.expr(
        f"transform({vec_col}, x -> CAST(round(CAST(x AS DOUBLE) * {unit}, 0) "
        f"AS BIGINT) + {shift})"
    )
    # fan_out: embeddings is typically one small parquet file -> one
    # scan partition; without it the n*dim posexplode and the map-side
    # (group, dim) partials run in ONE task (the doc_fingerprints
    # regression shape). REQUIRES components >= -shift/unit (pinned by
    # tests/test_analytics.py on the fixture): a negative quantized
    # value would make Spark `div` (truncates) and DuckDB `//`
    # (floors) disagree on the centroid.
    base = fan_out(
        emb.select(
            F.col(id_col).cast("long").alias("_vid"),
            F.col(group_col).cast("long").alias("_g"),
            q.alias("_q"),
        )
    )
    d = base.select("_vid", "_g", F.posexplode("_q").alias("_dim", "_qv"))
    s = d.groupBy("_g", "_dim").agg(
        F.sum("_qv").alias("_s"), F.count(F.lit(1)).alias("_n")
    )
    cent = s.select("_g", "_dim", F.expr("_s div _n").alias("_c"))
    dist = (
        d.join(cent, ["_g", "_dim"])
        .select(
            "_vid",
            "_g",
            # integer multiply, NOT ** (Column ** lowers to double pow)
            ((F.col("_qv") - F.col("_c")) * (F.col("_qv") - F.col("_c"))).alias(
                "_d2"
            ),
        )
        .groupBy("_vid", "_g")
        .agg(F.sum("_d2").cast("long").alias("dist_q"))
    )
    w = W.partitionBy("_g").orderBy(F.desc("dist_q"), F.asc("_vid"))
    return (
        dist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("_g").alias(group_col),
            F.col("_vid").alias(id_col),
            "dist_q",
            "rank",
        )
    )
