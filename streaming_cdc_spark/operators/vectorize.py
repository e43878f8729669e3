"""TF-IDF vectorizers (V1/V2) as MLlib estimator pipelines —
fit_vectorizer.py:20-23 re-expressed:

- mention kernel: char-bigram counts, L2-normalized, no IDF
  (TfidfVectorizer(analyzer='char', ngram_range=(2,2), use_idf=False))
- context kernel: word counts with a capped vocabulary + IDF,
  L2-normalized (TfidfVectorizer(max_features=10000))

Fit = estimator.fit(df) (one distributed pass); transform = the
fitted PipelineModel — no pickle handoff between stages
(SURVEY §3 EP1). Vectors come back as ml SparseVector columns;
``to_dense_array`` bridges into the engine's array<double> operators.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import IDF, CountVectorizer, NGram, Normalizer
from pyspark.ml.functions import vector_to_array
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def char_tokens(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.filter(F.split(c, ""), lambda x: F.length(x) > 0)


def fit_char_bigram_tf(
    df: DataFrame, text_col: str, out_col: str = "mention_vec", vocab_size: int = 4096
) -> PipelineModel:
    """V1a: char-bigram term-frequency vectors, L2-normalized."""
    prepped = df.withColumn("_chars", char_tokens(text_col))
    ngram = NGram(n=2, inputCol="_chars", outputCol="_bigrams")
    cv = CountVectorizer(inputCol="_bigrams", outputCol="_counts", vocabSize=vocab_size)
    norm = Normalizer(inputCol="_counts", outputCol=out_col, p=2.0)
    return Pipeline(stages=[ngram, cv, norm]).fit(prepped)


def transform_char_bigram(model: PipelineModel, df: DataFrame, text_col: str) -> DataFrame:
    return model.transform(df.withColumn("_chars", char_tokens(text_col))).drop(
        "_chars", "_bigrams", "_counts"
    )


def fit_word_tfidf(
    df: DataFrame, text_col: str, out_col: str = "context_vec", vocab_size: int = 10000
) -> PipelineModel:
    """V1b: word TF-IDF with capped vocabulary, L2-normalized."""
    prepped = df.withColumn("_words", F.split(F.col(text_col), r"\s+"))
    cv = CountVectorizer(inputCol="_words", outputCol="_counts", vocabSize=vocab_size)
    idf = IDF(inputCol="_counts", outputCol="_tfidf")
    norm = Normalizer(inputCol="_tfidf", outputCol=out_col, p=2.0)
    return Pipeline(stages=[cv, idf, norm]).fit(prepped)


def transform_word_tfidf(model: PipelineModel, df: DataFrame, text_col: str) -> DataFrame:
    return model.transform(df.withColumn("_words", F.split(F.col(text_col), r"\s+"))).drop(
        "_words", "_counts", "_tfidf"
    )


def to_dense_array(df: DataFrame, vec_col: str) -> DataFrame:
    """SparseVector -> array<double> so the dense matmul / LSH
    operators apply. Keep vocabSize bounded when using this bridge;
    at very large vocabularies use MinHashLSH on the sparse vectors
    instead."""
    return df.withColumn(vec_col, vector_to_array(F.col(vec_col)))
