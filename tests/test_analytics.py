"""Tests for the analytics family: Misra-Gries summary bounds,
k-core peeling, interval coverage, transition matrix, chi-square
drift."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from streaming_cdc_spark.operators.clustering import kcore_peel
from streaming_cdc_spark.operators.profile import misra_gries_summary
from streaming_cdc_spark.operators.temporal import interval_coverage


def _mg_check(spark, rows: list[str], k: int) -> None:
    df = spark.createDataFrame([(x,) for x in rows], "key string")
    est = {
        r["key"]: r["est"] for r in misra_gries_summary(df, "key", k).collect()
    }
    true = {}
    for x in rows:
        true[x] = true.get(x, 0) + 1
    bound = len(rows) // (k + 1)
    for key, t in true.items():
        e = est.get(key, 0)
        assert 0 <= e <= t, (key, e, t)
        assert t - e <= bound, (key, e, t, bound)
        if t > bound:  # guaranteed presence
            assert e > 0, (key, e, t, bound)
    for key in est:  # summary never invents keys
        assert key in true


def test_misra_gries_bounds_skewed_stream(spark):
    # 2 hot keys (300 each) + 200 distinct tail keys (2 each): the
    # tail forces decrements; theorem bounds must hold for EVERY key.
    rows = (
        ["hot0", "hot1"] * 300
        + [f"t{i}" for i in range(200)] * 2
    )
    _mg_check(spark, rows, k=8)


def test_misra_gries_adversarial_order(spark):
    # all tail first (fills + churns the counters), hot keys last —
    # the arrival order that maximally suppresses early estimates
    rows = [f"t{i}" for i in range(500)] + ["hot"] * 100
    _mg_check(spark, rows, k=4)


def test_misra_gries_fewer_keys_than_counters_is_exact(spark):
    rows = ["a"] * 10 + ["b"] * 5 + ["c"] * 1
    df = spark.createDataFrame([(x,) for x in rows], "key string")
    est = {
        r["key"]: r["est"]
        for r in misra_gries_summary(df, "key", 8).collect()
    }
    assert est == {"a": 10, "b": 5, "c": 1}


def test_kcore_peel_triangle_survives_pendant_path_dies(spark):
    # triangle {1,2,3} + path 3-4-5: node 5 (deg 1) dies round 1,
    # node 4 dies round 2; the 2-core is exactly the triangle.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)], "u long, v long"
    )
    out = {r["vec_id"]: r["deg"] for r in kcore_peel(edges, k=2, rounds=3).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_zero_rounds_is_input_degrees(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
    out = {r["vec_id"]: r["deg"] for r in kcore_peel(edges, k=5, rounds=0).collect()}
    assert out == {1: 1, 2: 2, 3: 1}


def test_interval_coverage_counts_overlap(spark):
    d = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(d, 2, "A"), (datetime.datetime(2024, 1, 2), 1, "A"),
         (datetime.datetime(2024, 1, 5), 0, "B")],
        "start timestamp, w int, g string",
    )
    out = {
        (r["day"], r["g"]): r["n_covering"]
        for r in interval_coverage(df, "start", "w", "g").collect()
    }
    # interval 1 covers 1..3, interval 2 covers 2..3, interval 3 covers 5
    assert out == {
        ("2024-01-01", "A"): 1,
        ("2024-01-02", "A"): 2,
        ("2024-01-03", "A"): 2,
        ("2024-01-05", "B"): 1,
    }


def test_interval_coverage_plan_has_no_join(spark):
    df = spark.range(10).select(
        F.to_timestamp(F.lit("2024-01-01")).alias("start"),
        F.lit(3).alias("w"),
        (F.col("id") % 2).cast("string").alias("g"),
    )
    plan = (
        interval_coverage(df, "start", "w", "g")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan  # linear unnest physical: explode + agg only


def test_transition_matrix_golden(spark, tmp_path):
    import pandas as pd

    rows = []
    t0 = datetime.datetime(2024, 1, 1)
    # user 1: a -> b -> a ; user 2: b -> b
    for i, (u, et) in enumerate(
        [(1, "a"), (1, "b"), (1, "a"), (2, "b"), (2, "b")]
    ):
        rows.append((i, t0 + datetime.timedelta(minutes=i), u, et, 0.0, "{}"))
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(tmp_path / "events.parquet")
    from streaming_cdc_spark.queries.analytics import event_transition_matrix

    out = {
        (r["src_type"], r["dst_type"]): (r["n"], r["p"])
        for r in event_transition_matrix(spark, str(tmp_path)).collect()
    }
    assert out == {
        ("a", "b"): (1, 1.0),
        ("b", "a"): (1, 0.5),
        ("b", "b"): (1, 0.5),
    }


def test_chisq_identical_halves_is_zero(spark, tmp_path):
    import pandas as pd

    rows = []
    t0 = datetime.datetime(2024, 1, 1)
    # event_id parity defines the split; make both halves identical:
    # ids 2j / 2j+1 share the same type, so o == e for every cell
    for j in range(40):
        et = "abcd"[j % 4]
        rows.append((2 * j, t0, 1, et, 0.0, "{}"))
        rows.append((2 * j + 1, t0, 1, et, 0.0, "{}"))
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(tmp_path / "events.parquet")
    from streaming_cdc_spark.queries.analytics import category_drift_chisq

    res = category_drift_chisq(spark, str(tmp_path)).collect()
    assert len(res) == 8  # 2 splits x 4 types
    for r in res:
        assert r["contrib"] == 0.0
        assert r["chi2_total"] == 0.0
        assert r["observed"] == 10
        assert r["expected"] == 10.0


def test_collocation_pmi_golden(spark):
    from streaming_cdc_spark.operators.text import collocation_pmi

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    rows = collocation_pmi(docs, top_n=10, min_count=2).collect()
    assert len(rows) == 1
    r = rows[0]
    # unigrams a:3 b:3 c:1 (N=7); bigrams (a,b):3 (b,a):1 (b,c):1 (B=5)
    assert (r["w1"], r["w2"], r["n_ab"], r["n_a"], r["n_b"], r["rank"]) == (
        "a", "b", 3, 3, 3, 1
    )
    assert r["pmi_ratio"] == round(3 * 49 / (5 * 3 * 3), 6)


def test_numeric_histogram_golden(spark):
    from streaming_cdc_spark.operators.profile import numeric_histogram

    df = spark.createDataFrame([(float(i),) for i in range(11)], "v double")
    out = {r["bin"]: r for r in numeric_histogram(df, "v", 5).collect()}
    assert {b: r["n"] for b, r in out.items()} == {0: 2, 1: 2, 2: 2, 3: 2, 4: 3}
    assert out[0]["bin_lo"] == 0.0 and out[0]["bin_hi"] == 2.0
    assert out[4]["bin_lo"] == 8.0 and out[4]["bin_hi"] == 10.0


def test_numeric_histogram_degenerate_single_value(spark):
    from streaming_cdc_spark.operators.profile import numeric_histogram

    df = spark.createDataFrame([(5.0,)] * 7, "v double")
    out = numeric_histogram(df, "v", 5).collect()
    assert len(out) == 1 and out[0]["bin"] == 0 and out[0]["n"] == 7


def test_purchase_attribution_golden(spark, tmp_path):
    import pandas as pd

    t0 = datetime.datetime(2024, 1, 10)
    s = lambda sec: t0 + datetime.timedelta(seconds=sec)  # noqa: E731
    rows = [
        # user 1: two same-instant clicks (max id wins), purchase 10s later
        (1, s(0), 1, "click", 0.0, "{}"),
        (2, s(0), 1, "click", 0.0, "{}"),
        (3, s(10), 1, "purchase", 0.0, "{}"),
        # user 2: click 8 days before the purchase -> outside the window
        (4, t0 - datetime.timedelta(days=8), 2, "click", 0.0, "{}"),
        (5, s(0), 2, "purchase", 0.0, "{}"),
        # user 3: purchase with no click at all -> dropped (inner as-of)
        (6, s(0), 3, "purchase", 0.0, "{}"),
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(tmp_path / "events.parquet")
    from streaming_cdc_spark.queries.analytics import purchase_attribution

    out = {
        r["purchase_id"]: (r["click_id"], r["gap_s"])
        for r in purchase_attribution(spark, str(tmp_path)).collect()
    }
    assert out == {3: (2, 10)}


def test_resource_allocation_golden_square(spark):
    from streaming_cdc_spark.operators.clustering import resource_allocation_links

    # square 1-2-3-4-1: (1,3) and (2,4) share two degree-2 hubs each
    # -> score 1,000,000; adjacent pairs share no neighbor
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "u long, v long"
    )
    rows = resource_allocation_links(edges, top_n=10).collect()
    out = {(r["u"], r["v"]): (r["score_micro"], r["linked"]) for r in rows}
    assert out == {(1, 3): (1_000_000, 0), (2, 4): (1_000_000, 0)}


def test_resource_allocation_hub_cap_drops_center_not_node(spark):
    from streaming_cdc_spark.operators.clustering import resource_allocation_links

    # star center 0 with leaves 1..4 plus edge 1-2: with the cap
    # excluding the hub as a CENTER, only the wedge centered at 1 and
    # 2 (degree 2) survives: (0, 2) and (0, 1) via their shared edge
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (1, 2)], "u long, v long"
    )
    rows = resource_allocation_links(
        edges, top_n=10, max_center_degree=2
    ).collect()
    out = {(r["u"], r["v"]): (r["score_micro"], r["linked"]) for r in rows}
    # centers of degree <= 2: nodes 1 and 2 (degree 2 each), 3, 4 (1).
    # wedges: center 1 -> (0,2); center 2 -> (0,1). hub 0 emits none.
    assert out == {(0, 2): (500_000, 1), (0, 1): (500_000, 1)}


def test_streaming_misra_gries_state_carries_across_batches(spark, tmp_path):
    import os

    import pandas as pd

    from streaming_cdc_spark.streaming.windows import streaming_misra_gries

    # two files -> two micro-batches; 'hot' mass is split across both,
    # so a correct final estimate REQUIRES state carry-over
    f1 = pd.DataFrame(
        {"event_id": range(0, 100), "key": ["hot"] * 60 + [f"a{i}" for i in range(40)]}
    )
    f2 = pd.DataFrame(
        {"event_id": range(100, 200),
         "key": ["hot"] * 60 + [f"b{i}" for i in range(40)]}
    )
    for i, f in enumerate((f1, f2)):
        p = str(tmp_path / f"split_{i}.parquet")
        f.to_parquet(p)
        os.utime(p, (1_000_000 + i, 1_000_000 + i))
    stream = (
        spark.readStream.schema("event_id long, key string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path) + "/*.parquet")
    )
    out = streaming_misra_gries(stream, k=4, n_shards=2)
    name = "mgtest_carry"
    ckpt = str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table(name).collect()
    spark.catalog.dropTempView(name)
    # the hot key's shard saw both batches
    hot_rows = [r for r in emitted if r["key"] == "hot"]
    assert max(r["batch_idx"] for r in hot_rows) == 2
    final = {
        r["key"]: r["est"]
        for r in emitted
        if r["batch_idx"] == max(x["batch_idx"] for x in emitted
                                 if x["shard"] == r["shard"])
    }
    # true hot = 120 over its shard's substream; N = 200, bound with
    # per-shard k=4 is n_shard/5 <= 200/5 = 40
    assert 0 < final["hot"] <= 120
    assert 120 - final["hot"] <= 40


def test_greedy_max_coverage_golden(spark):
    from streaming_cdc_spark.operators.sampling import greedy_max_coverage

    items = spark.createDataFrame(
        [("A", 1), ("A", 2), ("A", 3), ("B", 3), ("B", 8),
         ("C", 4), ("C", 5), ("C", 6), ("C", 7)],
        "doc string, e long",
    )
    out = [
        (r["pick_round"], r["doc"], r["gain"])
        for r in greedy_max_coverage(items, "doc", "e", 3)
        .orderBy("pick_round")
        .collect()
    ]
    # C covers 4 fresh, then A 3 fresh (3 now overlaps nothing picked
    # yet), then B only its uncovered 8
    assert out == [(1, "C", 4), (2, "A", 3), (3, "B", 1)]


def test_greedy_max_coverage_tiebreak_and_exhaustion(spark):
    from streaming_cdc_spark.operators.sampling import greedy_max_coverage

    items = spark.createDataFrame(
        [("x", 1), ("x", 2), ("y", 1), ("y", 2)], "doc string, e long"
    )
    out = [
        (r["pick_round"], r["doc"], r["gain"])
        for r in greedy_max_coverage(items, "doc", "e", 3)
        .orderBy("pick_round")
        .collect()
    ]
    # equal gains tie-break to the smaller id; afterwards coverage is
    # exhausted: rounds 2 and 3 emit nothing
    assert out == [(1, "x", 2)]


def test_centroid_outliers_golden(spark):
    from streaming_cdc_spark.operators.ann import centroid_outliers

    emb = spark.createDataFrame(
        [(0, [0.0, 0.0], 0), (1, [1.0, 0.0], 0), (2, [-1.0, 0.0], 0),
         (3, [0.5, 0.5], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    rows = centroid_outliers(emb, top_k=2).collect()
    out = {(r["label"], r["rank"]): (r["vec_id"], r["dist_q"]) for r in rows}
    # label 0 centroid = (0, 0); vids 1 and 2 are both 1e12 away in
    # micro-units^2; tie -> smaller vec_id ranks first
    assert out == {
        (0, 1): (1, 10**12),
        (0, 2): (2, 10**12),
        (1, 1): (3, 0),
    }


def test_misra_gries_null_keys_excluded(spark):
    from streaming_cdc_spark.operators.profile import misra_gries_summary

    df = spark.createDataFrame(
        [("a",), (None,), ("a",), (None,), ("b",)], "key string"
    )
    est = {
        r["key"]: r["est"]
        for r in misra_gries_summary(df, "key", 8).collect()
    }
    # NULLs never enter the sketch (consistent with the exact side's
    # NULL exclusion in _hh_assemble)
    assert est == {"a": 2, "b": 1}


def test_interval_coverage_negative_width_is_empty(spark):
    d = datetime.datetime(2024, 1, 10)
    df = spark.createDataFrame(
        [(d, -3, "A"), (d, 0, "B")], "start timestamp, w int, g string"
    )
    out = {
        (r["day"], r["g"]): r["n_covering"]
        for r in interval_coverage(df, "start", "w", "g").collect()
    }
    # negative width = EMPTY interval (the BETWEEN semantics), never a
    # reversed sequence covering the days before start
    assert out == {("2024-01-10", "B"): 1}


def test_centroid_outliers_shift_assumption_holds_on_fixture(spark):
    # the non-negativity shift (qv = round(x * 1e6) + 1e6 >= 0) is
    # LOAD-BEARING: Spark div truncates, DuckDB // floors, and they
    # only agree on non-negatives. Pin the fixture's component range;
    # if testdata regenerates wider than [-1, 1], this names the cause
    # instead of an opaque label_centroid_outliers hash FAIL.
    from streaming_cdc_spark.tables import load

    emb = load(spark, "/root/testdata/sf0.01", "embeddings")
    mn, mx = (
        emb.select(F.explode("embedding").alias("x"))
        .agg(F.min("x"), F.max("x"))
        .first()
    )
    assert mn > -1.0 and mx < 1.0, (mn, mx)


def test_rank_tie_cents_nonnegative_on_fixture(spark):
    # rank_tie_semantics buckets per-user cents with Spark `div` vs
    # DuckDB `//`, which diverge on NEGATIVE operands (truncate vs
    # floor). The query's determinism rests on every summed cents
    # value being >= 0; pin that on the fixture so a testdata regen
    # with negative event values produces THIS named failure instead
    # of an opaque rank_tie_semantics value-hash FAIL.
    from streaming_cdc_spark.tables import load

    ev = load(spark, "/root/testdata/sf0.01", "events").filter(
        F.col("value").isNotNull()
    )
    mn = (
        ev.select(
            "event_type",
            "user_id",
            (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("c"),
        )
        .groupBy("event_type", "user_id")
        .agg(F.sum("c").alias("cents"))
        .agg(F.min("cents"))
        .first()[0]
    )
    assert mn is not None and mn >= 0, mn


def test_weighted_median_golden(spark, tmp_path):
    import pandas as pd

    t0 = datetime.datetime(2024, 1, 1)
    # weight = user_id % 5 + 1. type A: values 1(w2), 2(w1), 3(w1):
    # tot=4, cum at v=1 is 2 -> 2*2 >= 4 -> median 1.0.
    # type B: values 5(w1), 7(w1): tot=2, cum at 5 is 1 -> 2 >= 2 -> 5.0
    rows = [
        (1, t0, 1, "A", 1.0, "{}"),   # w=2
        (2, t0, 0, "A", 2.0, "{}"),   # w=1
        (3, t0, 0, "A", 3.0, "{}"),   # w=1
        (4, t0, 0, "B", 7.0, "{}"),
        (5, t0, 0, "B", 5.0, "{}"),
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(tmp_path / "events.parquet")
    from streaming_cdc_spark.queries.analytics import weighted_median_value

    out = {
        r["event_type"]: (r["weighted_median"], r["tot_weight"])
        for r in weighted_median_value(spark, str(tmp_path)).collect()
    }
    assert out == {"A": (1.0, 4), "B": (5.0, 2)}


def test_path_trigrams_golden(spark, tmp_path):
    import pandas as pd

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    # user 1: a b c d -> trigrams (a,b,c), (b,c,d); user 2: a b (none)
    for i, (u, et) in enumerate(
        [(1, "a"), (1, "b"), (1, "c"), (1, "d"), (2, "a"), (2, "b")]
    ):
        rows.append((i, t0 + datetime.timedelta(minutes=i), u, et, 0.0, "{}"))
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(tmp_path / "events.parquet")
    from streaming_cdc_spark.queries.analytics import event_path_trigrams

    out = [
        (r["s1"], r["s2"], r["s3"], r["n"], r["rank"])
        for r in event_path_trigrams(spark, str(tmp_path))
        .orderBy("rank")
        .collect()
    ]
    assert out == [("a", "b", "c", 1, 1), ("b", "c", "d", 1, 2)]


def test_equidepth_histogram_bins(spark):
    sf_dir = "/root/testdata/sf0.01"
    """Equi-depth property on the real table: 10 bins, each holding
    n div 10 (+1 for the first n mod 10) rows under the (value,
    event_id) total order, bin ranges non-overlapping and ordered."""
    from streaming_cdc_spark.queries.analytics import equidepth_histogram

    rows = sorted(
        equidepth_histogram(spark, sf_dir).collect(), key=lambda r: r["bin"]
    )
    assert [r["bin"] for r in rows] == list(range(10))
    n = sum(r["n_rows"] for r in rows)
    lo, hi = n // 10, -(-n // 10)
    assert all(lo <= r["n_rows"] <= hi for r in rows)
    for a, b in zip(rows, rows[1:]):
        assert a["lo"] <= a["hi"] <= b["lo"] <= b["hi"]


def test_rollup_levels_consistent(spark):
    sf_dir = "/root/testdata/sf0.01"
    """ROLLUP output self-consistency: leaf revenues sum to their
    region subtotal, region subtotals sum to the grand total, and
    grouping levels carry the documented markers."""
    from streaming_cdc_spark.queries.analytics import rollup_revenue_cube

    rows = rollup_revenue_cube(spark, sf_dir).collect()
    leafs = [r for r in rows if r["lvl"] == 0]
    regs = {r["region_name"]: r for r in rows if r["lvl"] == 1}
    tot = [r for r in rows if r["lvl"] == 3]
    assert len(tot) == 1 and tot[0]["region_name"] == "(all)"
    assert set(regs) == {r["region_name"] for r in leafs}
    for name, reg in regs.items():
        part = [r for r in leafs if r["region_name"] == name]
        assert sum(r["n_orders"] for r in part) == reg["n_orders"]
        assert abs(sum(r["revenue_r"] for r in part) - reg["revenue_r"]) < 0.05
    assert sum(r["n_orders"] for r in leafs) == tot[0]["n_orders"]


def test_grouped_weighted_median_equals_direct(spark):
    """Banded median == the definitional sort-and-accumulate rule on
    a fixture dense with band-boundary ties (values exactly at
    integer band edges, duplicate values, weight skew)."""
    from streaming_cdc_spark.operators.ranking import grouped_weighted_median

    rows = []
    for g in range(3):
        for i in range(200):
            v = float((i * 7 + g) % 13)  # many exact-integer boundary values
            rows.append((f"g{g}", v, i, (i % 4) + 1))
    df = spark.createDataFrame(rows, "grp string, v double, id long, wt long")
    got = {
        r["grp"]: (r["median_value"], r["tot_weight"])
        for r in grouped_weighted_median(df, ["grp"], "v", "id", "wt").collect()
    }
    # direct rule per group
    import collections
    by_g = collections.defaultdict(list)
    for g, v, i, w in rows:
        by_g[g].append((v, i, w))
    for g, items in by_g.items():
        items.sort()
        tot = sum(w for _, _, w in items)
        cum = 0
        for v, _i, w in items:
            cum += w
            if cum * 2 >= tot:
                assert got[g] == (v, tot), (g, got[g], v, tot)
                break


def test_value_trend_slope_exact_fit(spark, tmp_path):
    import pandas as pd

    # value = 0.5 * days_since_epoch - 9000: an exact linear fit, so
    # the moment formula must recover slope/intercept exactly
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(6):
        ts = t0 + datetime.timedelta(days=i)
        x = (ts.date() - datetime.date(1970, 1, 1)).days
        rows.append((i, ts, 1, "a", 0.5 * x - 9000.0, "{}"))
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(tmp_path / "events.parquet")
    from streaming_cdc_spark.queries.analytics import value_trend_slope

    [r] = value_trend_slope(spark, str(tmp_path)).collect()
    assert r["n"] == 6
    assert r["slope_r"] == 0.5
    assert r["intercept_r"] == -9000.0


def test_basket_pairs_bruteforce(spark):
    import itertools

    import duckdb

    sf_dir = "/root/testdata/sf0.001"
    from streaming_cdc_spark.queries.analytics import basket_part_pairs

    got = {
        (r["item_a"], r["item_b"]): (r["support"], r["n_a"], r["n_b"])
        for r in basket_part_pairs(spark, sf_dir).collect()
    }
    rows = duckdb.sql(
        f"SELECT DISTINCT l_orderkey, l_partkey FROM '{sf_dir}/lineitem.parquet'"
    ).fetchall()
    baskets: dict[int, set[int]] = {}
    item_n: dict[int, int] = {}
    for okey, item in rows:
        baskets.setdefault(okey, set()).add(item)
    for items in baskets.values():
        for it in items:
            item_n[it] = item_n.get(it, 0) + 1
    pair_n: dict[tuple[int, int], int] = {}
    for items in baskets.values():
        for a, b in itertools.combinations(sorted(items), 2):
            pair_n[(a, b)] = pair_n.get((a, b), 0) + 1
    want = {
        p: (n, item_n[p[0]], item_n[p[1]])
        for p, n in pair_n.items()
        if n >= 2  # item prune (n_i >= 2) is implied: pair support
        # >= 2 forces both item supports >= 2
    }
    assert got == want


def test_mad_outliers_bruteforce(spark):
    import math

    import duckdb

    sf_dir = "/root/testdata/sf0.001"
    from streaming_cdc_spark.queries.analytics import mad_outlier_stats

    got = {
        r["event_type"]: (r["n"], r["med_cents"], r["mad_cents"], r["n_outliers"])
        for r in mad_outlier_stats(spark, sf_dir).collect()
    }
    rows = duckdb.sql(
        f"SELECT event_type, value FROM '{sf_dir}/events.parquet' "
        "WHERE value IS NOT NULL"
    ).fetchall()
    by_type: dict[str, list[int]] = {}
    for et, v in rows:
        by_type.setdefault(et, []).append(math.floor(v * 100))

    def lower_median(xs: list[int]) -> int:
        s = sorted(xs)
        return s[(len(s) + 1) // 2 - 1]

    want = {}
    for et, cents in by_type.items():
        med = lower_median(cents)
        devs = [abs(c - med) for c in cents]
        mad = lower_median(devs)
        want[et] = (
            len(cents),
            med,
            mad,
            sum(1 for d in devs if d > 3 * mad),
        )
    assert got == want


def test_hopping_distinct_users_golden(spark, tmp_path):
    import pandas as pd

    # user 1 active in BOTH halves of the 0h window: counts once
    # there, once in each of the single-half windows either side
    t0 = datetime.datetime(2024, 1, 1, 0, 30)
    t1 = datetime.datetime(2024, 1, 1, 2, 30)
    rows = [
        (0, t0, 1, "a", 0.0, "{}"),
        (1, t1, 1, "a", 0.0, "{}"),
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(tmp_path / "events.parquet")
    from streaming_cdc_spark.queries.analytics import hopping_distinct_users

    got = {
        r["win_start_us"] // 3_600_000_000: (r["n_users"], r["n_events"])
        for r in hopping_distinct_users(spark, str(tmp_path)).collect()
    }
    h0 = (datetime.datetime(2024, 1, 1) - datetime.datetime(1970, 1, 1)) // datetime.timedelta(hours=1)
    assert got == {
        h0 - 2: (1, 1),  # covers only t0
        h0: (1, 2),      # covers both events: distinct user counted ONCE
        h0 + 2: (1, 1),  # covers only t1
    }


def test_time_weighted_value_golden(spark, tmp_path):
    import pandas as pd

    # v=1.00 held 10s, v=3.00 held 30s, final obs unheld:
    # TWAP = (100*10 + 300*30) / 40 cents = 2.5
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (0, t0, 1, "a", 1.00, "{}"),
        (1, t0 + datetime.timedelta(seconds=10), 1, "a", 3.00, "{}"),
        (2, t0 + datetime.timedelta(seconds=40), 1, "a", 99.0, "{}"),
        # user 2: both events share one timestamp -> zero total weight,
        # excluded on both engines
        (3, t0, 2, "a", 5.0, "{}"),
        (4, t0, 2, "a", 7.0, "{}"),
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(tmp_path / "events.parquet")
    from streaming_cdc_spark.queries.analytics import time_weighted_value

    out = {
        r["user_id"]: (r["n_held"], r["twap_r"])
        for r in time_weighted_value(spark, str(tmp_path)).collect()
    }
    assert out == {1: (2, 2.5)}


def test_streaming_misra_gries_resumes_across_query_restarts(spark, tmp_path):
    """OPERATIONAL resume evidence: applyInPandasWithState state must
    survive a query STOP and a later start from the same checkpoint
    (every other streaming test drains in one availableNow run). Two
    files drain in run 1, the query terminates, two MORE files land,
    and a second query start on the SAME checkpoint processes only
    the new files — the final counters must equal a fresh single-run
    drain of all four files. Also pins that the file source tracks
    processed files by its own log, not mtimes: the run-2 files carry
    OLDER mtimes than the already-processed ones (the pinning helper
    restarts its clock per call) and must still be admitted, in
    mtime order relative to each other."""
    import os

    import pandas as pd

    from streaming_cdc_spark.streaming.windows import streaming_misra_gries

    def write(i: int, keys: list[str]) -> None:
        p = str(tmp_path / "src" / f"split_{i}.parquet")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        pd.DataFrame(
            {"event_id": range(i * 100, i * 100 + len(keys)), "key": keys}
        ).to_parquet(p)
        # deliberately NOT monotone across runs: splits 2-3 get the
        # same low mtimes as 0-1 did
        os.utime(p, (1_000_000 + i % 2, 1_000_000 + i % 2))

    batches = [
        ["hot"] * 30 + [f"a{i}" for i in range(20)],
        ["hot"] * 10 + [f"b{i}" for i in range(30)],
        ["hot"] * 25 + [f"c{i}" for i in range(15)],
        ["hot"] * 5 + [f"d{i}" for i in range(35)],
    ]

    def drain(src: str, ckpt: str):
        stream = (
            spark.readStream.schema("event_id long, key string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*.parquet")
        )
        out = streaming_misra_gries(stream, k=4, n_shards=1)
        rows = []

        # memory sink does not support checkpoint RECOVERY; foreachBatch does
        def sink(df_, bid):
            rows.extend(df_.collect())

        q = (
            out.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return rows

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    write(0, batches[0])
    write(1, batches[1])
    r1 = drain(src, ckpt)
    assert max(r["batch_idx"] for r in r1) == 2
    write(2, batches[2])
    write(3, batches[3])
    r2 = drain(src, ckpt)
    # run 2 processed ONLY the new files, continuing the state: batch
    # indices continue at 3 and 4
    assert sorted({r["batch_idx"] for r in r2}) == [3, 4]
    final = {r["key"]: r["est"] for r in r2 if r["batch_idx"] == 4}

    # single-run reference over the same four files, fresh checkpoint
    ref_rows = drain(src, str(tmp_path / "ckpt_ref"))
    ref = {r["key"]: r["est"] for r in ref_rows if r["batch_idx"] == 4}
    assert final == ref


def test_grouped_order_statistic_bruteforce(spark):
    import random

    from streaming_cdc_spark.operators.ranking import grouped_order_statistics

    rng = random.Random(23)
    rows = [(f"g{i % 3}", i, rng.randrange(0, 1000)) for i in range(407)]
    df = spark.createDataFrame(rows, "g string, event_id long, c long")
    for num, off, den in [(5, 99, 100), (95, 99, 100), (1, 0, 1), (50, 0, 100)]:
        got = {
            (r.g, r.stat_value, r.n)
            for r in grouped_order_statistics(
                df, ["g"], "c", "event_id", [(num, off, den)],
                band_expr=F.expr("c div 100"),
            ).collect()
        }
        want = set()
        by_g = {}
        for g, _, c in rows:
            by_g.setdefault(g, []).append(c)
        for g, vs in by_g.items():
            vs = sorted(vs)
            k = (num * len(vs) + off) // den
            want.add((g, vs[k - 1], len(vs)))
        assert got == want, (num, off, den)


def test_grouped_order_statistic_k_edges(spark):
    # k=1 (min) and k=n (max) both land despite band boundaries
    from streaming_cdc_spark.operators.ranking import grouped_order_statistics

    rows = [("a", i, v) for i, v in enumerate([100, 99, 300, 5, 5])]
    df = spark.createDataFrame(rows, "g string, event_id long, c long")
    # k = (num*n + off) div den: (0,1,1) -> k=1 (min); (1,0,1) -> k=n (max)
    lo = grouped_order_statistics(df, ["g"], "c", "event_id", [(0, 1, 1)]).first()
    hi = grouped_order_statistics(df, ["g"], "c", "event_id", [(1, 0, 1)]).first()
    assert (lo.stat_value, lo.n) == (5, 5)
    assert (hi.stat_value, hi.n) == (300, 5)


def test_purchase_cents_nonnegative_on_fixture(spark):
    # multi_touch_attribution splits credit with Spark `div` vs DuckDB
    # `//`, which only agree engine-independently on non-negative
    # operands (the rank_tie precedent; BIGINT `//` truncates today,
    # but that is an engine-version coincidence, not a contract). Pin
    # that every purchase's cents are >= 0 so a regen names the cause.
    from streaming_cdc_spark.tables import load

    for sf_dir in ("/root/testdata/sf0.01", "/root/testdata/sf0.001"):
        ev = load(spark, sf_dir, "events")
        mn = (
            ev.filter(
                (F.col("event_type") == "purchase") & F.col("value").isNotNull()
            )
            .select(
                (F.col("value").cast("decimal(18,2)") * 100)
                .cast("long")
                .alias("c")
            )
            .agg(F.min("c"))
            .first()[0]
        )
        assert mn is not None and mn >= 0, (sf_dir, mn)


def test_quartile_interpolation_matches_numpy(spark):
    """The six-spec banded fetch + dyadic interpolation equals
    numpy's percentile_cont (method='linear') per group, including
    an n=1 group (all quartiles = the lone value via the COALESCE
    branch) and an n=2 group (every quartile strictly between)."""
    import numpy as np

    from streaming_cdc_spark.operators.ranking import (
        grouped_order_statistics,
    )

    groups = {
        "a": [5, 1, 9, 3, 7, 11, 2, 8],
        "b": [10],
        "c": [4, 20],
        "d": [6, 6, 6, 1],  # planted value ties
    }
    rows = [
        (g, i * 100 + j, v)
        for i, (g, vs) in enumerate(sorted(groups.items()))
        for j, v in enumerate(vs)
    ]
    df = spark.createDataFrame(rows, "g string, rid long, c long")
    specs = [(q, 4 - q, 4) for q in (1, 2, 3)] + [
        (q, 8 - q, 4) for q in (1, 2, 3)
    ]
    stats = grouped_order_statistics(df, ["g"], "c", "rid", specs)
    got: dict[tuple[str, int], float] = {}
    by_key = {
        (r["g"], r["stat_idx"]): (r["stat_value"], r["n"])
        for r in stats.collect()
    }
    for g in groups:
        for q in (1, 2, 3):
            v_lo, n = by_key[(g, q - 1)]
            hi = by_key.get((g, q + 2))
            rem = ((n - 1) * q) % 4
            v_hi = hi[0] if hi is not None else v_lo
            got[(g, q)] = (v_lo * (4 - rem) + v_hi * rem) / 4
    for g, vs in groups.items():
        for q in (1, 2, 3):
            want = float(np.percentile(vs, 25 * q, method="linear"))
            assert got[(g, q)] == want, (g, q, got[(g, q)], want)
