"""Golden metric tests — the same published-literature values the
reference tests against (tests/eval_clusters_test.py: Vilain et al.
Table 1 for MUC; Luo 2005 Table 1a-c for B³ and CEAF-e), tolerance
1e-3, run through the DataFrame implementations.
"""

import pytest
from hypothesis import example, given, settings, strategies as st

from streaming_cdc_spark.metrics.coref import b3_df, ceaf_e_df, conflation_df, muc_df


def pairs_df(spark, true_clusters, pred_clusters):
    t_lookup = {m: cid for cid, ms in true_clusters.items() for m in ms}
    p_lookup = {m: cid for cid, ms in pred_clusters.items() for m in ms}
    rows = [(str(m), str(t_lookup[m]), str(p_lookup[m])) for m in t_lookup]
    return spark.createDataFrame(rows, "mention string, true_id string, pred_id string")


VILAIN = [
    # (true, pred, precision, recall)  — Vilain Table 1 rows 1,2,3,5
    ({0: "ABCD"}, {1: "AB", 2: "CD"}, 1.0, 2 / 3),
    ({0: "AB", 1: "CD"}, {2: "ABCD"}, 2 / 3, 1.0),
    ({0: "ABCD"}, {1: "ABCD"}, 1.0, 1.0),
    ({0: "ABC"}, {1: "AC", 2: "B"}, 1.0, 0.5),
]


@pytest.mark.parametrize("true_c,pred_c,exp_p,exp_r", VILAIN)
def test_muc_vilain(spark, true_c, pred_c, exp_p, exp_r):
    df = pairs_df(spark, {k: set(v) for k, v in true_c.items()}, {k: set(v) for k, v in pred_c.items()})
    row = muc_df(df).first()
    assert abs(row["muc_p"] - exp_p) < 1e-3
    assert abs(row["muc_r"] - exp_r) < 1e-3


LUO_TRUE = {0: set("12345"), 1: set("67"), 2: set("89ABC")}
LUO_CASES_B3 = [
    ({3: set("12345"), 4: set("6789ABC")}, 0.865),
    ({3: set("1234589ABC"), 4: set("67")}, 0.737),
    ({3: set("1234567" + "89ABC")}, 0.545),
]


@pytest.mark.parametrize("pred_c,exp_f1", LUO_CASES_B3)
def test_b3_luo(spark, pred_c, exp_f1):
    df = pairs_df(spark, LUO_TRUE, pred_c)
    row = b3_df(df).first()
    assert abs(row["b3_f1"] - exp_f1) < 1e-3


LUO_CASES_CEAF = [
    ({3: set("12345"), 4: set("6789ABC")}, 0.733),
    ({3: set("1234589ABC"), 4: set("67")}, 0.667),
    ({3: set("1234567" + "89ABC")}, 0.294),
]


@pytest.mark.parametrize("pred_c,exp_f1", LUO_CASES_CEAF)
def test_ceaf_e_luo(spark, pred_c, exp_f1):
    df = pairs_df(spark, LUO_TRUE, pred_c)
    row = ceaf_e_df(df).first()
    assert abs(row["ceaf_f1"] - exp_f1) < 1e-3


def test_conflation(spark):
    # pred cluster 3 conflates true {0,2}; true clusters 0 and 2 are not divided,
    # true 1 undivided -> conflated=1, divided=0
    df = pairs_df(spark, LUO_TRUE, {3: set("1234589ABC"), 4: set("67")})
    row = conflation_df(df).first()
    assert row["conflated"] == 1
    assert row["divided"] == 0

    # perfect clustering: no errors
    row = conflation_df(pairs_df(spark, LUO_TRUE, LUO_TRUE)).first()
    assert row["conflated"] == 0
    assert row["divided"] == 0


def test_ceaf_oracle_enumeration_domain(spark):
    """ceaf_e_prf's exhaustive-assignment oracle shifts 1::BIGINT by
    the true-cluster index (hard cap 63) and enumerates P(n_true, 7)
    prefixes (practical cap ~20 labels). Pin the testdata domain so a
    regeneration that outgrows it fails HERE with a named cause
    instead of as a DuckDB shift-overflow or a hung recursive walk."""
    from streaming_cdc_spark.tables import load

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        emb = load(spark, sf, "embeddings")
        n_true = emb.select("label").distinct().count()
        assert n_true <= 20, (
            f"{sf}: {n_true} gold labels — the ceaf_e_prf oracle's "
            "exhaustive enumeration is no longer tractable; replace it "
            "with a bound-certificate check (see its docstring)"
        )


def test_approx_stats_within_tolerance(spark):
    """approx_stats is rows-only by design (HLL / KLL sketches have no
    exact SQL twin) — bound its error against the exact aggregates
    instead: HLL distinct counts within 5%, approx median inside the
    exact p40-p60 band, per event type."""
    from pyspark.sql import functions as F

    from streaming_cdc_spark.queries import QUERIES
    from streaming_cdc_spark.tables import load

    sf = "/root/testdata/sf0.01"
    approx = {
        r["event_type"]: (r["approx_users"], r["approx_median"])
        for r in QUERIES["approx_stats"](spark, sf).collect()
    }
    exact = {
        r["event_type"]: (r["n"], r["p40"], r["p60"])
        for r in load(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n"),
            F.percentile("value", F.lit(0.4)).alias("p40"),
            F.percentile("value", F.lit(0.6)).alias("p60"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for et, (au, am) in approx.items():
        n, p40, p60 = exact[et]
        assert abs(au - n) <= max(2, 0.05 * n), (et, au, n)
        assert p40 <= am <= p60, (et, am, p40, p60)


def test_ari_known_values(spark):
    """ARI (Hubert & Arabie): identical partitions -> 1.0; the
    sklearn doc example [0,0,1,1] vs [0,0,1,2] -> 0.57 (computed by
    hand: P=2, A=4, B=2, n=4, exp=8/12 -> (2-2/3)/(3-2/3)); a
    label permutation leaves ARI unchanged."""
    from streaming_cdc_spark.metrics.coref import ari_df

    same = pairs_df(spark, {0: "AB", 1: "CD"}, {5: "AB", 6: "CD"})
    assert ari_df(same).first()["ari"] == 1.0

    ex = pairs_df(spark, {0: "AB", 1: "CD"}, {0: "AB", 1: "C", 2: "D"})
    got = ari_df(ex).first()["ari"]
    assert abs(got - (2 - 2 / 3) / (3 - 2 / 3)) < 1e-6

    perm = pairs_df(spark, {0: "AB", 1: "CD"}, {9: "AB", 3: "C", 7: "D"})
    assert ari_df(perm).first()["ari"] == got


def test_ari_anticorrelated_partitions_negative(spark):
    """The crossed 2x2 grid (every contingency cell = 1) is WORSE
    than chance at this size: P=0, A=B=4, exp=16/12 ->
    ARI = -4/3 / (4 - 4/3) = -0.5 exactly. Pins the below-chance
    branch and the exact integer/double arithmetic."""
    from streaming_cdc_spark.metrics.coref import ari_df

    grid = pairs_df(
        spark,
        {0: "AB", 1: "CD"},
        {0: "AC", 1: "BD"},
    )
    assert ari_df(grid).first()["ari"] == -0.5


# -- one-pass scorer vs the distributed forms ---------------------------


def _distributed_rows(pairs):
    return {
        "muc": muc_df(pairs).first().asDict(),
        "b3": b3_df(pairs).first().asDict(),
        "ceaf_e": ceaf_e_df(pairs).first().asDict(),
        "errors": conflation_df(pairs).first().asDict(),
    }


def _scored_rows(pairs):
    from streaming_cdc_spark.pipelines import evaluate_pairs

    ev = evaluate_pairs(pairs)
    return {k: ev[k].first().asDict() for k in ("muc", "b3", "ceaf_e", "errors")}


@pytest.mark.parametrize(
    "true_c,pred_c",
    [(t, p) for t, p, _, _ in VILAIN] + [(LUO_TRUE, p) for p, _ in LUO_CASES_B3],
)
def test_evaluate_pairs_equals_distributed_forms(spark, true_c, pred_c):
    """evaluate_pairs scores every metric from one contingency collect;
    it must agree exactly (6 dp) with muc_df / b3_df / ceaf_e_df /
    conflation_df on the Vilain and Luo fixtures."""
    df = pairs_df(spark, {k: set(v) for k, v in true_c.items()}, {k: set(v) for k, v in pred_c.items()})
    assert _scored_rows(df) == _distributed_rows(df)


def test_evaluate_pairs_column_types(spark):
    from streaming_cdc_spark.pipelines import evaluate_pairs

    df = pairs_df(spark, LUO_TRUE, LUO_TRUE)
    ev = evaluate_pairs(df)
    assert ev["muc"].dtypes == muc_df(df).dtypes
    assert ev["b3"].dtypes == b3_df(df).dtypes
    assert ev["ceaf_e"].dtypes == ceaf_e_df(df).dtypes
    assert ev["errors"].dtypes == conflation_df(df).dtypes
    summary = ev["summary"].first()
    assert ev["summary"].columns == ["muc_f1", "b3_f1", "ceaf_f1", "mean_f1"]
    assert summary["mean_f1"] == pytest.approx(1.0, abs=1e-6)


_cells = st.lists(st.tuples(st.integers(0, 6), st.integers(0, 6)), max_size=40)


@settings(max_examples=12, deadline=None)
@given(_cells)
@example([(i, i) for i in range(9)])  # all singletons
@example([(i % 4, 0) for i in range(13)])  # one giant predicted cluster
@example([])  # empty input
def test_evaluate_pairs_property(spark, cells):
    """Random partitions (mention i -> (true, pred) label pair): the
    one-pass scorer equals the distributed forms everywhere, including
    the degenerate inputs. Empty input keeps the distributed forms'
    values: NULL MUC, B³ and errors, 0.0 CEAF-e."""
    df = spark.createDataFrame(
        [(i, t, p) for i, (t, p) in enumerate(cells)], "mention long, true_id long, pred_id long"
    )
    got = _scored_rows(df)
    assert got == _distributed_rows(df)
    if not cells:
        assert set(got["muc"].values()) == set(got["b3"].values()) == set(got["errors"].values()) == {None}
        assert set(got["ceaf_e"].values()) == {0.0}


def test_null_keys_dropped_by_every_metric(spark):
    """A mention with a NULL true_id or pred_id is not scored by any
    metric. countDistinct skips NULL keys while count(*) keeps them,
    so without the shared filter MUC read 1.0 and B³ 0.467 on these
    five rows; now every metric scores the three keyed rows."""
    rows = [(1, "a", "x"), (2, "a", "x"), (3, "b", "y"), (4, None, "y"), (5, "b", None)]
    schema = "mention long, true_id string, pred_id string"
    with_nulls = spark.createDataFrame(rows, schema)
    keyed = spark.createDataFrame(rows[:3], schema)
    want = _distributed_rows(keyed)
    assert _distributed_rows(with_nulls) == want
    assert _scored_rows(with_nulls) == want
    assert want["b3"]["b3_f1"] == 1.0 and want["errors"] == {"conflated": 0, "divided": 0}
