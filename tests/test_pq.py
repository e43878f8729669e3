"""Product quantization: encode/ADC equivalence vs a numpy reference
and the float margins that make the cross-engine oracle safe."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from streaming_cdc_spark.operators.ann import (
    collect_pq_codebooks,
    pq_adc_lut_micro,
    pq_adc_topk,
    pq_encode,
)
from streaming_cdc_spark.tables import load

SF = "/root/testdata/sf0.01"
M, KSUB, SUB = 4, 8, 16


def _corpus(spark):
    emb = load(spark, SF, "embeddings")
    rows = emb.orderBy("vec_id").select("vec_id", "embedding").collect()
    ids = np.array([int(r[0]) for r in rows])
    mat = np.array([[float(x) for x in r[1]] for r in rows])
    return emb, ids, mat


def _ref_codes(mat: np.ndarray, cb: list) -> np.ndarray:
    codes = np.zeros((len(mat), M), dtype=int)
    for j in range(M):
        c = np.array([cv for _code, cv in cb[j]])
        d2 = ((mat[:, None, j * SUB : (j + 1) * SUB] - c[None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = np.argmin(d2, axis=1)  # first min == smaller code
    return codes


def test_pq_encode_matches_numpy_argmin(spark):
    emb, ids, mat = _corpus(spark)
    cb = collect_pq_codebooks(emb, M, KSUB)
    want = _ref_codes(mat, cb)
    got = {
        r["vec_id"]: [r[f"code_{j}"] for j in range(M)]
        for r in pq_encode(emb, cb).collect()
    }
    for i, vid in enumerate(ids):
        assert got[vid] == list(want[i]), vid


def test_pq_encode_argmin_margins(spark):
    """The oracle re-derives the argmin with its own float sums; the
    gap between best and runner-up subspace distance bounds how much
    cross-engine drift the encoding tolerates. Re-verify if testdata
    regenerates."""
    emb, ids, mat = _corpus(spark)
    cb = collect_pq_codebooks(emb, M, KSUB)
    worst = np.inf
    for j in range(M):
        c = np.array([cv for _code, cv in cb[j]])
        d2 = ((mat[:, None, j * SUB : (j + 1) * SUB] - c[None, :, :]) ** 2).sum(axis=2)
        part = np.partition(d2, 1, axis=1)
        gaps = part[:, 1] - part[:, 0]
        # codebook rows hit themselves at distance 0 with a real gap;
        # every vector must separate best from second-best
        worst = min(worst, gaps[gaps > 0].min())
        assert (gaps > 0).sum() >= len(mat) - KSUB
    assert worst > 1e-6, worst  # drift is ~1e-15; 9 orders of margin


def test_pq_lut_quantization_margins(spark):
    """Integer micro-unit LUTs round d2*1e6 — a value within float
    drift of a .5 boundary could round differently across engines."""
    emb, ids, mat = _corpus(spark)
    cb = collect_pq_codebooks(emb, M, KSUB)
    qs = [(int(i), list(map(float, mat[ids == i][0]))) for i in ids if i % 2 == 1][:4]
    worst = np.inf
    for _qid, qv in qs:
        for row in pq_adc_lut_micro(qv, cb):
            assert all(isinstance(v, int) for v in row), row
        for j in range(M):
            c = np.array([cv for _code, cv in cb[j]])
            d2 = ((np.array(qv[j * SUB : (j + 1) * SUB])[None, :] - c) ** 2).sum(axis=1)
            frac = np.abs((d2 * 1e6) % 1.0 - 0.5)
            worst = min(worst, frac.min())
    assert worst > 1e-4, worst  # drift ~1e-9 micro-units at this scale


def test_pq_adc_topk_matches_bruteforce(spark):
    emb, ids, mat = _corpus(spark)
    cb = collect_pq_codebooks(emb, M, KSUB)
    qs = [(int(i), list(map(float, mat[ids == i][0]))) for i in ids if i % 2 == 1][:4]
    codes = _ref_codes(mat, cb)
    got = [
        (r["q"], r["neighbor"], r["adc_micro"], r["rank"])
        for r in pq_adc_topk(emb, cb, qs, k=10).collect()
    ]
    want = []
    for qid, qv in qs:
        lut = pq_adc_lut_micro(qv, cb)
        adc = [
            (sum(lut[j][codes[i, j]] for j in range(M)), int(vid))
            for i, vid in enumerate(ids)
            if int(vid) != qid
        ]
        adc.sort()
        want += [(qid, vid, a, rk + 1) for rk, (a, vid) in enumerate(adc[:10])]
    assert sorted(got) == sorted(want)


def test_hybrid_rrf_matches_python_replay(spark):
    """RRF fusion must equal the python fold of its two input
    rankings — including candidates present in only one list."""
    from streaming_cdc_spark.operators.ann import pq_adc_topk as pq_op
    from streaming_cdc_spark.operators.similarity import cosine_top_k
    from streaming_cdc_spark.queries import QUERIES

    emb = load(spark, SF, "embeddings")
    qids = [1, 3, 5, 7]
    dense = {
        (r["q"], r["neighbor"]): r["rank"]
        for r in cosine_top_k(
            emb.filter(F.col("vec_id").isin(qids)), emb, k=20
        ).collect()
    }
    cb = collect_pq_codebooks(emb, M, KSUB)
    qs = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in emb.filter(F.col("vec_id").isin(qids))
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    ]
    pq = {
        (r["q"], r["neighbor"]): r["rank"]
        for r in pq_op(emb, cb, qs, k=20).collect()
    }
    want = {}
    for qid in qids:
        cands = {n for (q, n) in set(dense) | set(pq) if q == qid}
        scored = sorted(
            (
                -(
                    (1.0 / (60 + dense[(qid, n)]) if (qid, n) in dense else 0.0)
                    + (1.0 / (60 + pq[(qid, n)]) if (qid, n) in pq else 0.0)
                ),
                n,
            )
            for n in cands
        )
        for rk, (neg, n) in enumerate(scored[:5], 1):
            want[(qid, n)] = (round(-neg, 9), rk)
    got = {
        (r["q"], r["neighbor"]): (r["rrf_r"], r["rank"])
        for r in QUERIES["hybrid_rrf_topk"](spark, SF).collect()
    }
    assert got == want
    # the outer join genuinely fuses: the two rankers disagree on
    # membership somewhere (one-sided candidates enter the scoring,
    # even if the rankers agree enough that none survives to top-5)
    assert set(dense) ^ set(pq), "rankers identical — fusion untested"


def test_pq_encode_numpy_path_matches_literal(spark):
    """Past LITERAL_CENTROID_MAX the encode switches to the broadcast
    numpy matmul kernel — identical codes to the literal-expression
    path (incl. argmin tie rule) on the same corpus and codebooks."""
    import streaming_cdc_spark.operators.ann as A

    emb = load(spark, SF, "embeddings")
    cb = collect_pq_codebooks(emb, M, KSUB)  # m*ksub = 32 = literal cap
    lit = {tuple(r) for r in pq_encode(emb, cb).collect()}
    orig = A.LITERAL_CENTROID_MAX
    A.LITERAL_CENTROID_MAX = 1  # force the numpy kernel
    try:
        via_np = {tuple(r) for r in pq_encode(emb, cb).collect()}
    finally:
        A.LITERAL_CENTROID_MAX = orig
    assert via_np == lit
    # a BIG codebook (m=4 x ksub=64 = 256 codes) takes the numpy path
    # by default and the ADC chain on top of it still works
    big = collect_pq_codebooks(emb, M, 64)
    enc = pq_encode(emb, big)
    assert enc.count() == 500
    codes = enc.agg(*[F.max(f"code_{j}") for j in range(M)]).first()
    assert all(c <= 63 for c in codes) and any(c > 7 for c in codes)


def test_pq_prep_fused_collect_matches_two_call_form(spark):
    """_pq_prep (optimization r9: one collect job for codebooks +
    query set) must return EXACTLY what the two-call form returns —
    the PQ oracles replay the two-call definitions."""
    from streaming_cdc_spark.queries.similarity import _pq_prep, _pq_query_set

    emb = load(spark, SF, "embeddings")
    cb, qs = _pq_prep(emb, m=M, ksub=KSUB)
    assert cb == collect_pq_codebooks(emb, M, KSUB)
    assert qs == _pq_query_set(emb)
