"""S12 model persistence + EP2 encode-and-cluster end to end."""

import pytest


def test_vectorizer_save_load(spark, tmp_path):
    from pyspark.ml import PipelineModel

    from streaming_cdc_spark.operators.vectorize import fit_char_bigram_tf, transform_char_bigram

    df = spark.createDataFrame([(0, "obama"), (1, "osama")], "id long, mention string")
    model = fit_char_bigram_tf(df, "mention")
    path = str(tmp_path / "model")
    model.write().overwrite().save(path)
    back = PipelineModel.load(path)
    a = transform_char_bigram(model, df, "mention").select("id", "mention_vec").collect()
    b = transform_char_bigram(back, df, "mention").select("id", "mention_vec").collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_ep2_encode_and_cluster(spark):
    """EP2 end to end: hash encoder -> cosine-threshold clustering ->
    metrics vs gold entity_id."""
    from streaming_cdc_spark.operators.encoder import hash_encode_mentions
    from streaming_cdc_spark.pipelines import ep2_nn_threshold

    rows = [
        (0, "Barack Obama", "president of the", "United States", "E_OBAMA"),
        (1, "Barack Obama", "president of the", "United States", "E_OBAMA"),
        (2, "Paris", "capital of", "France", "E_PARIS"),
        (3, "Paris", "capital of", "France", "E_PARIS"),
    ]
    df = spark.createDataFrame(
        rows,
        "mention_index long, mention string, left_context string, right_context string, entity_id string",
    )
    emb = hash_encode_mentions(df).join(df.select("mention_index", "entity_id"), "mention_index")
    out = ep2_nn_threshold(
        emb, 0.95, id_col="mention_index", vec_col="embedding", label_col="entity_id"
    )
    assert out["summary"].first()["mean_f1"] == pytest.approx(1.0, abs=1e-6)
