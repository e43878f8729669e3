"""End-to-end pipelines mirroring the reference's three entry points
(SURVEY §3), each a pure DataFrame DAG — no file handoffs between
stages.

EP1 fit_vectorizer -> baseline -> eval_clusters
EP2 encode -> nn_thresh -> eval_clusters  (batch form; streaming form
    is streaming.linker)
EP3 embeddings -> GRINCH -> purity / cut
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from streaming_cdc_spark.metrics.coref import SCHEMAS, one_row_df, score_contingency
from streaming_cdc_spark.operators.clustering import connected_components, threshold_clusters
from streaming_cdc_spark.operators.similarity import blended_self_edges
from streaming_cdc_spark.operators.vectorize import (
    fit_char_bigram_tf,
    fit_word_tfidf,
    to_dense_array,
    transform_char_bigram,
    transform_word_tfidf,
)


def first_occurrence_ids(df: DataFrame, key_col: str, order_col: str, out_col: str) -> DataFrame:
    """R1: deterministic dense integer ids in first-occurrence order.
    Two-pass scale-safe form: rank the per-key firsts (small), join
    back — no global window over the raw rows."""
    from streaming_cdc_spark.operators.ranking import dense_rank_global

    firsts = df.groupBy(key_col).agg(F.min(order_col).alias("_first"))
    ranked = dense_rank_global(firsts, "_first", out_col).drop("_first")
    return df.join(ranked, key_col)


def evaluate_pairs(pairs: DataFrame) -> dict[str, DataFrame]:
    """EP stage 3 (eval_clusters.py:172-219): the full metric suite
    over a (mention, true_id, pred_id) DataFrame, scored from ONE
    contingency collect (metrics/coref.py: score_contingency). Each
    result is a one-row local DataFrame, so reading it runs no further
    Spark job. 'summary' adds the A13 mean-of-F1s line
    (eval_clusters.py:216)."""
    spark = pairs.sparkSession
    rows = score_contingency(pairs)
    out = {k: one_row_df(spark, schema, rows[k]) for k, schema in SCHEMAS.items()}
    f1s = (rows["muc"][2], rows["b3"][2], rows["ceaf_e"][2])
    out["summary"] = one_row_df(spark, "muc_f1 double, b3_f1 double, ceaf_f1 double", f1s).select(
        "muc_f1",
        "b3_f1",
        "ceaf_f1",
        F.round((F.col("muc_f1") + F.col("b3_f1") + F.col("ceaf_f1")) / 3, 6).alias("mean_f1"),
    )
    return out


def _ep1_vectorize(mentions: DataFrame, vocab_size: int) -> tuple[DataFrame, int]:
    """Shared EP1 vectorization: fit + transform both feature kernels,
    return the cached dense-vector DataFrame and its row count."""
    # cache the prepped input: the two vectorizer fits, the IDF fit,
    # and every downstream action otherwise re-derive it from source
    df = mentions.withColumn(
        "context", F.concat_ws(" ", F.col("left_context"), F.col("right_context"))
    ).persist()
    # small corpora: collapse to a few partitions so the ~15 jobs this
    # pipeline runs (3 MLlib fits, transforms, kernel, CC) don't pay
    # 32-task scheduling overhead each on a handful of rows
    if df.count() < 100_000:
        wide = df
        df = df.coalesce(8).persist()
        df.count()
        wide.unpersist()
    m_model = fit_char_bigram_tf(df, "mention", vocab_size=vocab_size)
    c_model = fit_word_tfidf(df, "context", vocab_size=vocab_size)
    vec = transform_char_bigram(m_model, df, "mention")
    vec = transform_word_tfidf(c_model, vec, "context")
    vec = to_dense_array(to_dense_array(vec, "mention_vec"), "context_vec").persist()
    # materialize the vectors once; the count also lets callers pick
    # the kernel strategy without re-counting
    n = vec.count()
    df.unpersist()
    return vec, n


def ep1_feature_baseline(
    mentions: DataFrame,
    threshold: float = 0.5,
    weights: tuple[float, float] = (0.8, 0.2),
    vocab_size: int = 4096,
    with_metrics: bool = True,
) -> dict[str, object]:
    """EP1 (Shrimpton-style feature baseline, baseline.py):

    mention char-bigram TF kernel (weight .8) + context word-TF-IDF
    kernel (weight .2) -> blended similarity edges -> connected
    components -> coref metrics vs gold entity_id.

    mentions: (mention_index long, mention string, left_context,
    right_context, entity_id). Returns dict with 'assignments',
    'pairs', and (when ``with_metrics``) the metric DataFrames.
    ``with_metrics=False`` skips the metric suite — CEAF's Hungarian
    assignment collects the contingency eagerly, so callers that only
    need assignments shouldn't pay for it.
    """
    from streaming_cdc_spark.operators.similarity import BROADCAST_MAX_ROWS

    vec, n = _ep1_vectorize(mentions, vocab_size)
    edges = blended_self_edges(
        vec,
        [("mention_vec", weights[0]), ("context_vec", weights[1])],
        threshold,
        id_col="mention_index",
        strategy="broadcast" if n <= BROADCAST_MAX_ROWS else "blocked",
    )
    assign = connected_components(
        vec.select("mention_index"), edges.select("u", "v"), id_col="mention_index"
    )
    pairs = (
        first_occurrence_ids(
            mentions.select("mention_index", "entity_id"), "entity_id", "mention_index", "true_id"
        )
        .join(assign, "mention_index")
        .select(
            F.col("mention_index").alias("mention"),
            "true_id",
            F.col("cluster_id").alias("pred_id"),
        )
    )
    out = {"assignments": assign, "pairs": pairs}
    if with_metrics:
        out.update(evaluate_pairs(pairs))
    return out


def ep1_bisect_to_gold(
    mentions: DataFrame,
    weights: tuple[float, float] = (0.8, 0.2),
    vocab_size: int = 4096,
    max_iters: int = 30,
    epsilon: float | None = None,
) -> dict[str, object]:
    """EP1 + C7: bisect the BLENDED-kernel threshold until the
    connected-component count matches the gold entity count — the
    reference's bisection target (nn_thresh.py:118-135) generalized
    from cosine to the EP1 feature kernels (combo.py:21-41)."""
    from streaming_cdc_spark.operators.clustering import find_threshold

    vec, n = _ep1_vectorize(mentions, vocab_size)
    target = mentions.select(F.countDistinct("entity_id")).first()[0]
    thr, assign = find_threshold(
        vec,
        target,
        id_col="mention_index",
        max_iters=max_iters,
        epsilon=epsilon,
        vec_cols_weights=[("mention_vec", weights[0]), ("context_vec", weights[1])],
        n=n,
    )
    return {"threshold": thr, "target": target, "assignments": assign}


def ep2_encode_and_cluster(
    mentions: DataFrame,
    threshold: float,
    dim: int = 64,
    context_budget: int = 16,
    with_metrics: bool = True,
) -> dict[str, object]:
    """EP2 end-to-end (encode_mentions -> nn_thresh -> eval): encoder
    UDF over raw mention records, cosine-threshold clustering on the
    resulting embeddings, metrics vs gold entity_id. mentions needs
    (mention_index, mention, left_context, right_context, entity_id).
    """
    from streaming_cdc_spark.operators.encoder import hash_encode_mentions

    enc = hash_encode_mentions(mentions, dim=dim, context_budget=context_budget)
    emb = enc.join(mentions.select("mention_index", "entity_id"), "mention_index")
    return ep2_nn_threshold(
        emb,
        threshold,
        id_col="mention_index",
        vec_col="embedding",
        label_col="entity_id",
        with_metrics=with_metrics,
    )


def ep2_nn_threshold(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    with_metrics: bool = True,
) -> dict[str, object]:
    """EP2 batch form (nn_thresh.py): cosine-threshold clustering over
    dense embeddings -> metrics vs gold labels."""
    assign = threshold_clusters(embeddings, threshold, id_col=id_col, vec_col=vec_col)
    pairs = assign.join(embeddings.select(id_col, label_col), id_col).select(
        F.col(id_col).alias("mention"),
        F.col(label_col).alias("true_id"),
        F.col("cluster_id").alias("pred_id"),
    )
    out = {"assignments": assign, "pairs": pairs}
    if with_metrics:
        out.update(evaluate_pairs(pairs))
    return out


def ep2_streaming(
    stream: DataFrame,
    gold: DataFrame,
    threshold: float,
    limit: int | None = None,
    strategy: str = "cache",
    key_col: str = "category",
    with_metrics: bool = True,
) -> dict[str, object]:
    """EP2 streaming form: run the bounded-memory incremental linker
    over a (finite) stream to completion (availableNow), then evaluate
    the resulting assignment against gold labels.

    stream: streaming DataFrame (key_col, mention_index, embedding);
    gold: batch DataFrame (mention_index, entity_id).
    """
    from streaming_cdc_spark.session import drain_stream
    from streaming_cdc_spark.streaming.linker import streaming_linker

    out = streaming_linker(stream, threshold, limit=limit, strategy=strategy, key_col=key_col)
    assign = drain_stream(out, "ep2s").select("mention_index", "cluster_id")
    pairs = assign.join(gold, "mention_index").select(
        F.col("mention_index").alias("mention"),
        F.col("entity_id").alias("true_id"),
        F.col("cluster_id").alias("pred_id"),
    )
    out = {"assignments": assign, "pairs": pairs}
    if with_metrics:
        out.update(evaluate_pairs(pairs))
    return out


def ep3_grinch(
    embeddings: DataFrame,
    cut_threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    **grinch_params,
) -> dict[str, object]:
    """EP3 (cluster_w_grinch.py): GRINCH dendrogram -> flat cut +
    distributed purity."""
    from streaming_cdc_spark.metrics.purity import dendrogram_purity_df
    from streaming_cdc_spark.operators.grinch import grinch_build

    spark = embeddings.sparkSession
    tree = grinch_build(
        embeddings, id_col=id_col, vec_col=vec_col, label_col=label_col, **grinch_params
    )
    edges = spark.createDataFrame(
        tree.edge_rows(), "uid string, parent_uid string, label string"
    )
    flat = tree.flat_clusters(cut_threshold)
    assign = spark.createDataFrame(
        sorted((int(k), int(v)) for k, v in flat.items()), f"{id_col} long, cluster_id long"
    )
    pairs = assign.join(embeddings.select(id_col, label_col), id_col).select(
        F.col(id_col).alias("mention"),
        F.col(label_col).alias("true_id"),
        F.col("cluster_id").alias("pred_id"),
    )
    return {
        "dendrogram": edges,
        "assignments": assign,
        "pairs": pairs,
        "purity": dendrogram_purity_df(edges),
        **evaluate_pairs(pairs),
    }
