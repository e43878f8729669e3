"""Independent recomputations the benchmark checks engine output
against. Written from the workloads' definitions with numpy and
DuckDB; nothing here imports the engine.

- ``batch_resolve``: hash encoder, cosine threshold edges, connected
  components, MUC / B3 / CEAF-e from the raw mention file.
- ``stream_link``: offline replay of the greedy 1-NN fold with cache
  eviction over the stream files in arrival order.
- ``progressive_drain``: the whole budgeted schedule replayed in DuckDB
  (per-bucket visible-corpus df cap, per-bucket top-budget cut).
"""

from __future__ import annotations

import hashlib

import numpy as np

# ---------------------------------------------------------------- batch


def _token_vec(token: str, dim: int) -> np.ndarray:
    return np.array(
        [int(hashlib.md5(f"{token}|{j}".encode()).hexdigest()[:15], 16) / 2**59 - 1.0 for j in range(dim)]
    )


def encode(mention: list[str], left: list[str], right: list[str], dim: int = 64, budget: int = 16) -> np.ndarray:
    """Mean of per-token md5-chain vectors over the mention and a
    symmetric context window (an underused side donates its budget to
    the other), L2-normalized."""
    cache: dict[str, np.ndarray] = {}

    def vec(t):
        if t not in cache:
            cache[t] = _token_vec(t, dim)
        return cache[t]

    out = np.zeros((len(mention), dim))
    for i, (m, lt, rt) in enumerate(zip(mention, left, right)):
        lw, rw = (lt or "").split(), (rt or "").split()
        nl = min(len(lw), budget + max(0, budget - len(rw)))
        nr = min(len(rw), budget + max(0, budget - len(lw)))
        toks = (lw[len(lw) - nl :] if nl else []) + (m or "").split() + rw[:nr]
        if toks:
            v = np.mean([vec(t) for t in toks], axis=0)
            n = np.linalg.norm(v)
            out[i] = v / n if n > 0 else v
    return out


def threshold_edges(emb: np.ndarray, threshold: float, chunk: int = 2048) -> tuple[np.ndarray, np.ndarray]:
    """All pairs u < v (row indices) with cosine > threshold."""
    norms = np.linalg.norm(emb, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    x = emb / norms
    us, vs = [], []
    for s in range(0, len(x), chunk):
        sims = x[s : s + chunk] @ x.T
        li, ri = np.nonzero(sims > threshold)
        li = li + s
        keep = li < ri
        us.append(li[keep])
        vs.append(ri[keep])
    return np.concatenate(us), np.concatenate(vs)


def components(n: int, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Label of each vertex 0..n-1 = smallest vertex index in its
    component (vectorized min-label propagation with pointer jumping)."""
    lab = np.arange(n)
    while True:
        m = np.minimum(lab[u], lab[v])
        new = lab.copy()
        np.minimum.at(new, u, m)
        np.minimum.at(new, v, m)
        new = new[new]
        if np.array_equal(new, lab):
            return lab
        lab = new


def _f1(p: float, r: float, eps: float = 0.0) -> float:
    return 2 * p * r / (p + r + eps) if (p + r + eps) else 0.0


def _assign_max(w: np.ndarray) -> float:
    """Maximum-weight one-to-one assignment value (Hungarian, O(n^3))."""
    if w.shape[0] > w.shape[1]:
        w = w.T
    n, m = w.shape
    cost = -w
    u, v = np.zeros(n + 1), np.zeros(m + 1)
    p = np.zeros(m + 1, dtype=int)
    way = np.zeros(m + 1, dtype=int)
    for i in range(1, n + 1):
        p[0] = i
        j0 = 0
        minv = np.full(m + 1, np.inf)
        used = np.zeros(m + 1, dtype=bool)
        while True:
            used[j0] = True
            i0 = p[j0]
            cur = cost[i0 - 1] - u[i0] - v[1:]
            free = ~used[1:]
            upd = free & (cur < minv[1:])
            minv[1:][upd] = cur[upd]
            way[1:][upd] = j0
            cand = np.where(free, minv[1:], np.inf)
            j1 = int(np.argmin(cand)) + 1
            delta = cand[j1 - 1]
            u[p[used]] += delta
            v[used] -= delta
            minv[~used] -= delta
            j0 = j1
            if p[j0] == 0:
                break
        while j0:
            j1 = way[j0]
            p[j0] = p[j1]
            j0 = j1
    return float(sum(w[p[j] - 1, j - 1] for j in range(1, m + 1) if p[j]))


def coref_metrics(true_id: np.ndarray, pred_id: np.ndarray) -> dict[str, float]:
    """MUC, B3 and CEAF-e F1 (and P/R), rounded to 6 decimals.

    CEAF-e's optimal entity alignment only ever pairs clusters that
    overlap, so it is solved per connected block of the true/pred
    overlap graph instead of on the dense #true x #pred matrix."""
    eps = 1e-13
    _, t = np.unique(true_id, return_inverse=True)
    _, p = np.unique(pred_id, return_inverse=True)
    cells, overlap = np.unique(np.stack([t, p], 1), axis=0, return_counts=True)
    ts, ps = np.bincount(t), np.bincount(p)
    t_parts = np.bincount(cells[:, 0])
    p_parts = np.bincount(cells[:, 1])
    muc_p = float((ps - p_parts).sum() / ((ps - 1).sum() + eps))
    muc_r = float((ts - t_parts).sum() / ((ts - 1).sum() + eps))
    n = len(t)
    o2 = overlap.astype(np.float64) ** 2
    b3_p = float((o2 / ps[cells[:, 1]]).sum() / n)
    b3_r = float((o2 / ts[cells[:, 0]]).sum() / n)
    phi = 2.0 * overlap / (ts[cells[:, 0]] + ps[cells[:, 1]])
    nt = len(ts)
    block = components(nt + len(ps), cells[:, 0], nt + cells[:, 1])
    cblock = block[cells[:, 0]]
    num = 0.0
    order = np.argsort(cblock, kind="stable")
    bounds = np.flatnonzero(np.diff(cblock[order])) + 1
    for idx in np.split(order, bounds):
        if len(idx) == 1:
            num += phi[idx[0]]
            continue
        rows, ri = np.unique(cells[idx, 0], return_inverse=True)
        cols, ci = np.unique(cells[idx, 1], return_inverse=True)
        w = np.zeros((len(rows), len(cols)))
        w[ri, ci] = phi[idx]
        num += _assign_max(w)
    ceaf_p, ceaf_r = num / nt, num / len(ps)
    r6 = lambda x: round(x, 6)  # noqa: E731
    return {
        "muc_p": r6(muc_p),
        "muc_r": r6(muc_r),
        "muc_f1": r6(_f1(muc_p, muc_r, eps)),
        "b3_p": r6(b3_p),
        "b3_r": r6(b3_r),
        "b3_f1": r6(_f1(b3_p, b3_r)),
        "ceaf_p": r6(ceaf_p),
        "ceaf_r": r6(ceaf_r),
        "ceaf_f1": r6(_f1(ceaf_p, ceaf_r)),
    }


def batch_expected(table, threshold: float) -> dict:
    """Everything batch_resolve's output is checked against: edge count,
    cluster label per mention_index (min member id), and metrics."""
    ids = table.column("mention_index").to_numpy()
    emb = encode(
        table.column("mention").to_pylist(),
        table.column("left_context").to_pylist(),
        table.column("right_context").to_pylist(),
    )
    u, v = threshold_edges(emb, threshold)
    order = np.argsort(ids)
    lab = components(len(ids), np.searchsorted(ids[order], ids[u]), np.searchsorted(ids[order], ids[v]))
    label = ids[order][lab[np.searchsorted(ids[order], ids)]]
    truth = table.column("entity_id").to_numpy()
    return {
        "n": len(ids),
        "edges": len(u),
        "labels": dict(zip(ids.tolist(), label.tolist())),
        "metrics": coref_metrics(truth, label),
    }


def metrics_match(got: dict, want: dict, tol: float = 1e-6 + 1e-12) -> bool:
    return all(abs(float(got[k]) - want[k]) <= tol for k in want)


# --------------------------------------------------------------- stream


def stream_expected(tables, threshold: float, limit: int) -> dict[int, int]:
    """Greedy 1-NN with cache eviction, per category key, over the
    files in arrival order: a mention joins the cluster of its most
    similar active mention above ``threshold`` (else starts its own);
    every active mention above threshold is refreshed; past ``limit``
    the least recently refreshed older mention is evicted."""
    state: dict[str, dict] = {}
    out: dict[int, int] = {}
    for t in tables:
        for key, mid, vec in zip(
            t.column("category").to_pylist(),
            t.column("mention_index").to_pylist(),
            t.column("embedding").to_numpy(zero_copy_only=False),
        ):
            s = state.setdefault(key, {"emb": np.zeros((0, len(vec))), "cl": [], "seen": [], "tick": 0})
            x = np.asarray(vec, dtype=np.float64)
            nx = np.linalg.norm(x)
            x = x / nx if nx > 0 else x
            sims = s["emb"] @ x
            hit = np.flatnonzero(sims > threshold)
            if len(hit):
                cl = s["cl"][int(np.argmax(sims))]
                for j in hit:
                    s["seen"][j] = s["tick"]
            else:
                cl = mid
            out[mid] = cl
            s["emb"] = np.vstack([s["emb"], x])
            s["cl"].append(cl)
            s["seen"].append(s["tick"])
            if len(s["cl"]) > limit:
                j = int(np.argmin(s["seen"][:-1]))
                s["emb"] = np.delete(s["emb"], j, axis=0)
                del s["cl"][j], s["seen"][j]
            s["tick"] += 1
    return out


# ---------------------------------------------------------- progressive


def progressive_expected(bucket_glob: str, budget: int, df_cap: int, tau: float) -> list[tuple]:
    """Per (bucket, cbs): pairs verified and pairs matched, replaying
    the schedule relationally: a pair is discovered in the bucket of its
    larger doc; the df cap counts the corpus visible at that bucket;
    each bucket verifies its top ``budget`` edges by (cbs desc, ids)."""
    import duckdb

    # staged so the capped (bucket, shingle) filter applies to the
    # newer side BEFORE the self-join: hot shingles never fan out
    steps = [
        f"""CREATE TEMP TABLE sh AS
            WITH toks AS (SELECT doc_id, bucket, string_split(text, ' ') AS t
                          FROM read_parquet('{bucket_glob}'))
            SELECT DISTINCT doc_id, bucket, concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
            FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)""",
        f"""CREATE TEMP TABLE keepk AS
            WITH ks AS (SELECT DISTINCT bucket AS k FROM sh)
            SELECT ks.k, s.shingle FROM ks JOIN sh s ON s.bucket <= ks.k
            GROUP BY 1, 2 HAVING COUNT(*) <= {df_cap}""",
        """CREATE TEMP TABLE newer AS
            SELECT b.doc_id, b.bucket, b.shingle FROM sh b
            JOIN keepk ON keepk.k = b.bucket AND keepk.shingle = b.shingle""",
        f"""CREATE TEMP TABLE bud AS
            WITH cand AS (SELECT b.bucket AS batch_id, a.doc_id AS doc_a, b.doc_id AS doc_b,
                                 COUNT(*) AS cbs
                          FROM newer b JOIN sh a ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                          GROUP BY 1, 2, 3)
            SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY batch_id
                           ORDER BY cbs DESC, doc_a, doc_b) AS rn FROM cand)
            WHERE rn <= {budget}""",
    ]
    result = f"""
        WITH sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
        SELECT batch_id, cbs, COUNT(*) AS n_pairs,
               SUM(CASE WHEN cbs / (x.n + y.n - cbs) >= {tau} THEN 1 ELSE 0 END) AS n_matches
        FROM bud JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
        GROUP BY 1, 2 ORDER BY 1, 2"""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute("SET memory_limit = '1GB'")
        for s in steps:
            con.execute(s)
        return [tuple(int(x) for x in r) for r in con.execute(result).fetchall()]
    finally:
        con.close()
