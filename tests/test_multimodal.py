"""Multimodal binary-column plumbing: schemas, batch shapes, stubbed
decode determinism."""

import pytest
from pyspark.sql import functions as F

from streaming_cdc_spark.operators.multimodal import MEDIA_SCHEMA, extract_media_features


def attach_fake_media(docs):
    """utf-8 bytes of each doc's text as a media blob with a non-image
    mime tag — the synthetic tables carry no real blobs."""
    return docs.select(
        F.encode(F.col("text"), "utf-8").alias("media"),
        F.lit("application/x-fake").alias("mime"),
        F.col("doc_id").alias("media_id"),
    )


def media_df(spark):
    docs = spark.createDataFrame(
        [(0, "hello world"), (1, "another blob"), (2, "hello world")],
        "doc_id long, text string",
    )
    return attach_fake_media(docs)


def test_media_schema(spark):
    """The fixture builds exactly the input contract extract_media_features
    declares."""
    assert media_df(spark).dtypes == spark.createDataFrame([], MEDIA_SCHEMA).dtypes


def test_feature_extraction_deterministic(spark):
    feats = {r["media_id"]: r for r in extract_media_features(media_df(spark)).collect()}
    assert set(feats) == {0, 1, 2}
    assert feats[0]["n_bytes"] == len(b"hello world")
    # identical bytes -> identical fake features
    assert feats[0]["content_sha"] == feats[2]["content_sha"]
    assert feats[0]["width"] == feats[2]["width"]
    assert feats[0] != feats[1]
    for r in feats.values():
        assert 64 <= r["width"] < 256 and 64 <= r["height"] < 256
        assert 1 <= r["n_frames"] <= 30


def test_real_codec_path_is_gated(spark):
    # r2: fails fast at call time (RuntimeError + install hint) when
    # PIL is absent; decodes for real when it is present
    from streaming_cdc_spark.operators.multimodal import have_pil

    if not have_pil():
        with pytest.raises(RuntimeError, match="pillow"):
            extract_media_features(media_df(spark), use_real_codec=True)
    else:  # pragma: no cover
        assert extract_media_features(media_df(spark), use_real_codec=True).count() > 0


def test_real_codec_flag_requires_pil(spark):
    """use_real_codec=True must fail fast with the install hint when
    PIL is absent (and run the real decoder when present)."""
    import pytest

    from streaming_cdc_spark.operators.multimodal import have_pil

    docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    media = attach_fake_media(docs)
    if not have_pil():
        with pytest.raises(RuntimeError, match="pillow"):
            extract_media_features(media, use_real_codec=True)
    else:  # pragma: no cover - codec-present environments only
        assert extract_media_features(media, use_real_codec=False).count() == 1


def test_pil_decode_real_image():
    """Real-codec kernel decodes an actual PNG (skips without PIL)."""
    import io

    import pytest

    PIL = pytest.importorskip("PIL")
    from PIL import Image

    from streaming_cdc_spark.operators.multimodal import _pil_decode

    buf = io.BytesIO()
    Image.new("RGB", (12, 7)).save(buf, format="PNG")
    content, w, h, nf = _pil_decode(buf.getvalue())
    assert (w, h, nf) == (12, 7, 1)
    assert 0 <= content < (1 << 31)


def test_auto_codec_keeps_fake_hashes_for_non_images(spark):
    """Default (auto) mode must produce the SAME features as the fake
    path for non-image mimes, PIL or not — media_stats hash stability."""
    docs = spark.createDataFrame([(1, "abc"), (2, "xyz")], "doc_id long, text string")
    media = attach_fake_media(docs)
    auto = {tuple(r) for r in extract_media_features(media).collect()}
    fake = {tuple(r) for r in extract_media_features(media, use_real_codec=False).collect()}
    assert auto == fake
