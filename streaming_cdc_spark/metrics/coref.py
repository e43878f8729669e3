"""Coreference quality metrics as DataFrame aggregations.

Input contract: a *pairs* DataFrame with one row per mention:
(mention long, true_id, pred_id) — the Spark form of the reference's
cluster-pair CSV (nn_thresh.py:192-194, eval_clusters.py:186-195).
Rows with a NULL true_id or pred_id are dropped before any metric
(``_keyed``), so every function scores the same mention set.

MUC   — eval_clusters.py:44-74 (Vilain et al.), incl. the +1e-13
B³    — eval_clusters.py:77-98
CEAF-e— eval_clusters.py:101-144 (phi_4 + Hungarian)
errors— eval_clusters.py:147-169 (conflated / divided counts)

``score_contingency`` scores all four from ONE contingency table, the
way the reference does: a single distributed groupBy(true_id, pred_id)
count whose cells (true_id, pred_id, overlap) are collected and scored
on the driver by ``_score_cells`` (marginals by bincount, CEAF-e's
(#true x #pred) phi_4 matrix solved with Hungarian). The driver bound
is the number of contingency CELLS — at most min(n, |T|·|P|) — not
the mention count. CEAF-e needs exactly these cells on the driver
anyway, so the one-pass scorer adds no new driver bound.
``muc_df``, ``b3_df`` and ``conflation_df`` stay as the fully
distributed scalar forms for callers that want no driver collect;
tests pin them equal to the scorer.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streaming_cdc_spark.metrics.hungarian import linear_sum_assignment

EPS = 1e-13

# the one-row result of each metric
SCHEMAS = {
    "muc": "muc_p double, muc_r double, muc_f1 double",
    "b3": "b3_p double, b3_r double, b3_f1 double",
    "ceaf_e": "ceaf_p double, ceaf_r double, ceaf_f1 double",
    "errors": "conflated bigint, divided bigint",
}


def contingency(pairs: DataFrame) -> DataFrame:
    """(true_id, pred_id, overlap) — J7, the shared core of every metric."""
    return pairs.groupBy("true_id", "pred_id").agg(F.count("*").alias("overlap"))


def _keyed(pairs: DataFrame) -> DataFrame:
    """The scored mention set: rows whose true_id and pred_id are both
    non-NULL. One rule for every metric — countDistinct skips a NULL
    key while count(*) and groupBy keep it, so unfiltered MUC and B³
    would score different mention sets."""
    return pairs.filter(F.col("true_id").isNotNull() & F.col("pred_id").isNotNull())


def _spark_round(x: float, places: int) -> float:
    """Spark's round(double, places): HALF_UP on the shortest decimal
    form of the double (Java Double.toString, Python repr)."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


def _decimal_sum(terms: np.ndarray) -> float:
    """Σ terms exactly as ``SUM(CAST(term AS DECIMAL(28,12)))`` then
    CAST to double: each double rounds HALF_UP to 12 places, the sum
    is exact decimal addition."""
    q = Decimal("1e-12")
    return float(sum((Decimal(repr(x)).quantize(q, ROUND_HALF_UP) for x in terms.tolist()), Decimal(0)))


def _score_cells(true_id: np.ndarray, pred_id: np.ndarray, overlap: np.ndarray) -> dict[str, tuple]:
    """MUC, B³, CEAF-e and the error counts from the contingency cells
    (true_id, pred_id, overlap), one tuple per ``SCHEMAS`` entry.

    Marginals come from the cells: |t| and |p| are bincounts of the
    overlaps, and with n mentions in C cells, Σ_p (|p| − parts(p)) =
    n − C, Σ_p (|p| − 1) = n − #pred. Every value is computed with the
    same double operations, in the same order, as the distributed
    forms muc_df and b3_df, so the rounded results are identical.
    Empty input keeps their degenerate values: NULL MUC, B³ and
    errors, 0.0 CEAF-e."""
    if len(overlap) == 0:
        return {"muc": (None,) * 3, "b3": (None,) * 3, "ceaf_e": (0.0,) * 3, "errors": (None,) * 2}
    _, ti = np.unique(true_id, return_inverse=True)
    _, pi = np.unique(pred_id, return_inverse=True)
    o = np.asarray(overlap, dtype=np.int64)
    st = np.bincount(ti, weights=o).astype(np.int64)
    sp = np.bincount(pi, weights=o).astype(np.int64)
    n, cells, n_true, n_pred = int(o.sum()), len(o), len(st), len(sp)
    r6 = lambda x: _spark_round(x, 6)  # noqa: E731

    muc_p = (n - cells) / (n - n_pred + EPS)
    muc_r = (n - cells) / (n - n_true + EPS)
    muc_f1 = 2 * muc_p * muc_r / (muc_p + muc_r + EPS)

    o2 = (o * o).astype(np.float64)
    b3_p = _decimal_sum(o2 / sp[pi]) / n
    b3_r = _decimal_sum(o2 / st[ti]) / n
    b3_f1 = 2 * b3_p * b3_r / (b3_p + b3_r)

    # phi_4 over the dense (#true, #pred) matrix; precision divides by
    # #true clusters, recall by #pred (eval_clusters.py:138-140)
    phi = np.zeros((n_true, n_pred))
    phi[ti, pi] = 2.0 * o / (st[ti] + sp[pi])
    ri, ci = linear_sum_assignment(phi, maximize=True)
    num = float(phi[ri, ci].sum())
    ceaf_p, ceaf_r = num / n_true, num / n_pred
    ceaf_f1 = 2 * ceaf_p * ceaf_r / (ceaf_p + ceaf_r) if (ceaf_p + ceaf_r) else 0.0

    return {
        "muc": (r6(muc_p), r6(muc_r), r6(muc_f1)),
        "b3": (r6(b3_p), r6(b3_r), r6(b3_f1)),
        # CEAF-e has no Spark-side form: Python's round, which its
        # DuckDB oracle (ceaf_e_prf) agrees with
        "ceaf_e": (round(ceaf_p, 6), round(ceaf_r, 6), round(ceaf_f1, 6)),
        "errors": (cells - n_pred, cells - n_true),
    }


def score_contingency(pairs: DataFrame) -> dict[str, tuple]:
    """Every metric row from ONE distributed contingency aggregation:
    its cells are collected and scored on the driver (``_score_cells``)."""
    cells = contingency(_keyed(pairs)).toPandas()
    return _score_cells(
        cells["true_id"].to_numpy(), cells["pred_id"].to_numpy(), cells["overlap"].to_numpy()
    )


def one_row_df(spark, schema: str, row: tuple) -> DataFrame:
    """A one-row DataFrame over an inline VALUES table. It plans as a
    local relation, so reading it — or a projection of it — runs no
    Spark job (createDataFrame from a list parallelizes an RDD)."""
    cols = [c.split() for c in schema.split(",")]
    values = ", ".join(f"CAST(:{name} AS {typ})" for name, typ in cols)
    names = ", ".join(name for name, _ in cols)
    args = {name: v for (name, _), v in zip(cols, row)}
    return spark.sql(f"SELECT * FROM VALUES ({values}) AS t({names})", args=args)


def muc_df(pairs: DataFrame) -> DataFrame:
    """One row: (muc_p, muc_r, muc_f1) rounded to 6dp."""
    pairs = _keyed(pairs)
    pstats = pairs.groupBy("pred_id").agg(
        F.count("*").alias("sz"), F.countDistinct("true_id").alias("parts")
    )
    tstats = pairs.groupBy("true_id").agg(
        F.count("*").alias("sz"), F.countDistinct("pred_id").alias("parts")
    )
    p = pstats.agg(
        (F.sum(F.col("sz") - F.col("parts")) / (F.sum(F.col("sz") - 1) + F.lit(EPS))).alias("p")
    )
    r = tstats.agg(
        (F.sum(F.col("sz") - F.col("parts")) / (F.sum(F.col("sz") - 1) + F.lit(EPS))).alias("r")
    )
    return (
        p.crossJoin(r)
        .select(
            F.round("p", 6).alias("muc_p"),
            F.round("r", 6).alias("muc_r"),
            F.round(
                2 * F.col("p") * F.col("r") / (F.col("p") + F.col("r") + F.lit(EPS)), 6
            ).alias("muc_f1"),
        )
    )


def b3_df(pairs: DataFrame) -> DataFrame:
    """One row: (b3_p, b3_r, b3_f1) rounded to 6dp.

    Per-mention ratios collapse onto the contingency table: each of
    the `overlap` mentions in cell (t, p) contributes overlap/|p| to
    precision and overlap/|t| to recall."""
    pairs = _keyed(pairs)
    cont = contingency(pairs)
    tsz = pairs.groupBy("true_id").agg(F.count("*").alias("st"))
    psz = pairs.groupBy("pred_id").agg(F.count("*").alias("sp"))
    total = pairs.count()
    joined = cont.join(tsz, "true_id").join(psz, "pred_id")
    # per-cell quotients are computed in double (deterministic) but
    # ACCUMULATED as decimals — exact addition, so partition order
    # cannot shift the rounded result (oracle determinism rule)
    term_p = (F.col("overlap") * F.col("overlap") / F.col("sp")).cast("decimal(28,12)")
    term_r = (F.col("overlap") * F.col("overlap") / F.col("st")).cast("decimal(28,12)")
    agg = joined.agg(
        (F.sum(term_p).cast("double") / F.lit(total)).alias("p"),
        (F.sum(term_r).cast("double") / F.lit(total)).alias("r"),
    )
    return agg.select(
        F.round("p", 6).alias("b3_p"),
        F.round("r", 6).alias("b3_r"),
        F.round(2 * F.col("p") * F.col("r") / (F.col("p") + F.col("r")), 6).alias("b3_f1"),
    )


def ari_df(pairs: DataFrame) -> DataFrame:
    """One row: (ari,) — the Adjusted Rand Index (Hubert & Arabie
    1985) between pred and gold clusterings, rounded to 6dp. Chosen
    over NMI/V-measure as the partition-similarity extension of the
    metric family because it needs NO logarithms: with P = Σ_ij
    n_ij(n_ij-1), A = Σ_i a_i(a_i-1), B = Σ_j b_j(b_j-1), N2 =
    n(n-1) (all EXACT BIGINTs — integer "2·C(·,2)" units),

        ARI = (P - A·B/N2) / ((A+B)/2 - A·B/N2)

    evaluated as ONE fixed-order double expression — the
    exact_moment_corr pattern, engine-identical where ln() is not.
    Degenerate case (every clustering identical to every other —
    denominator 0) returns 1.0 by convention. One contingency
    aggregation + three scalar sums; nothing data-sized leaves the
    executors."""
    cont = contingency(pairs)
    p = cont.agg(
        F.sum(F.col("overlap") * (F.col("overlap") - 1)).cast("long").alias("P")
    )
    a = (
        pairs.groupBy("true_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("A"))
    )
    b = (
        pairs.groupBy("pred_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("B"))
    )
    n = pairs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    s = p.crossJoin(a).crossJoin(b).crossJoin(n)
    exp = (
        F.col("A").cast("double") * F.col("B").cast("double")
        / (F.col("n") * (F.col("n") - 1)).cast("double")
    )
    num = F.col("P").cast("double") - exp
    den = (F.col("A") + F.col("B")).cast("double") / F.lit(2.0) - exp
    return s.select(
        F.round(F.when(den == 0, F.lit(1.0)).otherwise(num / den), 6).alias("ari")
    )


def conflation_df(pairs: DataFrame) -> DataFrame:
    """One row: (conflated, divided) error counts (eval_clusters.py:147-169)."""
    pairs = _keyed(pairs)
    conflated = (
        pairs.groupBy("pred_id")
        .agg((F.countDistinct("true_id") - 1).alias("c"))
        .agg(F.sum("c").alias("conflated"))
    )
    divided = (
        pairs.groupBy("true_id")
        .agg((F.countDistinct("pred_id") - 1).alias("d"))
        .agg(F.sum("d").alias("divided"))
    )
    return conflated.crossJoin(divided)


def ceaf_e_df(pairs: DataFrame) -> DataFrame:
    """One row: (ceaf_p, ceaf_r, ceaf_f1) rounded to 6dp.

    The contingency aggregates in Spark; the dense (n_true, n_pred)
    phi_4 matrix is built on the driver and solved with Hungarian
    (``_score_cells``)."""
    return one_row_df(pairs.sparkSession, SCHEMAS["ceaf_e"], score_contingency(pairs)["ceaf_e"])
