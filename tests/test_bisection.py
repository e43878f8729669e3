"""C7 threshold bisection + EP2 streaming pipeline."""

import json

import pytest


def test_find_threshold_hits_target(spark):
    from streaming_cdc_spark.operators.clustering import find_threshold

    # two tight clusters + two outliers -> target 4 achievable
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.02, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.02, 0.99, 0.0]),
        (4, [0.5, 0.5, 0.7]),
        (5, [-0.7, 0.5, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    threshold, clusters = find_threshold(df, target=4, epsilon=0.4, max_iters=12)
    got = {r["vec_id"]: r["cluster_id"] for r in clusters.collect()}
    n_clusters = len(set(got.values()))
    assert abs(n_clusters - 4) <= 1
    assert 0.0 < threshold < 1.0


def test_ep2_streaming(spark, tmp_path):
    from streaming_cdc_spark.pipelines import ep2_streaming

    vecs = {
        0: ([1.0, 0.0], "A"),
        1: ([0.99, 0.05], "A"),
        2: ([0.0, 1.0], "B"),
        3: ([0.03, 0.99], "B"),
    }
    src = tmp_path / "src"
    src.mkdir()
    (src / "m.jsonl").write_text(
        "\n".join(
            json.dumps({"category": "k", "mention_index": i, "embedding": v})
            for i, (v, _) in vecs.items()
        )
    )
    stream = spark.readStream.schema(
        "category string, mention_index long, embedding array<double>"
    ).json(str(src))
    gold = spark.createDataFrame(
        [(i, lab) for i, (_, lab) in vecs.items()], "mention_index long, entity_id string"
    )
    out = ep2_streaming(stream, gold, threshold=0.9)
    assert out["summary"].first()["mean_f1"] == pytest.approx(1.0, abs=1e-6)


def test_ep1_bisect_to_gold(spark):
    """Blended-kernel bisection recovers a threshold whose CC count
    hits the gold entity count on a separable fixture."""
    from streaming_cdc_spark.pipelines import ep1_bisect_to_gold
    import pyspark.sql.functions as F

    rows = []
    for i in range(30):
        ent = f"E{i % 3}"
        word = {"E0": "alpha", "E1": "bravo", "E2": "charlie"}[ent]
        rows.append((i, f"{word} {word}", f"ctx {word} left", f"ctx {word} right", ent))
    mentions = spark.createDataFrame(
        rows,
        "mention_index long, mention string, left_context string, right_context string, entity_id string",
    )
    out = ep1_bisect_to_gold(mentions, epsilon=0.0)
    assert out["target"] == 3
    n_clusters = out["assignments"].select(F.countDistinct("cluster_id")).first()[0]
    assert n_clusters == 3
    assert 0.0 < out["threshold"] < 1.0


def test_bisect_oracle_rounding_margin(spark):
    """bisect_clusters' oracle equality rests on 6-dp sim quantization
    agreeing across engines: a raw sim within cross-engine drift
    (~6e-16 measured) of a x.xxxxxx5 rounding boundary could round
    differently and flip an edge at one visited midpoint. Pin the
    sf0.01 boundary margin so a testdata regeneration that lands a
    sim on a boundary fails HERE with a named cause instead of as an
    opaque hash mismatch."""
    import numpy as np

    from streaming_cdc_spark.operators.similarity import cosine_self_edges
    from streaming_cdc_spark.tables import load

    emb = load(spark, "/root/testdata/sf0.01", "embeddings")
    sims = np.array(
        [r[0] for r in cosine_self_edges(emb, threshold=0.0).select("sim").collect()]
    )
    scaled = sims * 1e6
    margin = float(np.abs(scaled - np.floor(scaled) - 0.5).min()) * 1e-6
    assert margin > 1e-13, (
        f"a kernel sim sits {margin:.2e} from a 6-dp rounding boundary — "
        "cross-engine drift could flip the bisection schedule; re-derive "
        "sim_round for bisect_clusters (see its docstring)"
    )


def test_bisect_sim_round_quantizes_schedule(spark):
    """find_threshold(sim_round=6) must quantize the cached kernel
    BEFORE any midpoint comparison: an edge at 0.50000004 rounds to
    0.5 and is excluded by the strict `> 0.5` filter, changing the
    search path vs the raw kernel."""
    from streaming_cdc_spark.operators.clustering import find_threshold

    rows = [
        (0, [1.0, 0.0]),
        # cos(v0, v1) = 0.50000004... -> rounds to 0.5 exactly
        (1, [0.50000004, 0.8660253463255]),
        (2, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # target 3 singletons: with the rounded kernel the 0.5-midpoint
    # graph has no edge >0.5 except possibly 1-2; search stays high
    thr, clusters = find_threshold(df, target=3, epsilon=0.0, max_iters=4, sim_round=6)
    n = clusters.select("cluster_id").distinct().count()
    got = {r["vec_id"]: r["cluster_id"] for r in clusters.collect()}
    assert n == 3, got
