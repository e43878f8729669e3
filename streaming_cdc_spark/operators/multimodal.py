"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns (``MEDIA_SCHEMA``); the decode +
feature-extract step runs as Arrow-batched ``mapInPandas`` so one
Python invocation processes a whole batch of blobs. image/* blobs
decode with PIL when it is importable; every other blob (and every
blob when PIL is absent) takes a clearly-marked deterministic fake
that derives features from the content hash. The Spark-side contract
— schemas, batch shapes, partitioning, UDF signatures — is real and
tested. The registered ``media_stats`` query aggregates opaque bytes
without decoding; no registered query decodes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = "media binary, mime string, media_id long"
FEATURE_SCHEMA = (
    "media_id long, n_bytes int, content_sha int, width int, height int, n_frames int"
)


def _fake_decode(blob: bytes) -> tuple[int, int, int, int]:
    """DETERMINISTIC FAKE decode — the codec-absent fallback.
    Features derive from the sha256 of the bytes."""
    h = hashlib.sha256(blob).digest()
    content = int.from_bytes(h[:4], "big") % (1 << 31)
    width = 64 + h[4] % 192
    height = 64 + h[5] % 192
    n_frames = 1 + h[6] % 30
    return content, width, height, n_frames


def _pil_decode(blob: bytes) -> tuple[int, int, int, int]:
    """Real image decode via PIL (imported lazily so the module stays
    importable in codec-free environments). content stays the bytes
    hash; width/height/n_frames come from the decoded image."""
    import io

    from PIL import Image

    h = hashlib.sha256(blob).digest()
    content = int.from_bytes(h[:4], "big") % (1 << 31)
    with Image.open(io.BytesIO(blob)) as img:
        return content, img.width, img.height, getattr(img, "n_frames", 1)


def have_pil() -> bool:
    import importlib.util

    return importlib.util.find_spec("PIL") is not None


def extract_media_features(media: DataFrame, use_real_codec: bool | None = None) -> DataFrame:
    """Decode + feature-extract per blob. Batch shape: one pandas
    DataFrame of blobs in, one feature frame out (Arrow transfer both
    ways).

    use_real_codec: True = decode image/* blobs with PIL (raises
    RuntimeError with an install hint when absent; non-image mimes
    still take the fake path — the flag never feeds text/audio bytes
    to the image decoder); False = deterministic fake; None
    (default) = PIL when importable AND image/* mime, fake
    otherwise — so the same pipeline code runs in codec-free and
    production environments with identical schemas."""
    from streaming_cdc_spark.session import ensure_package_on_executors

    ensure_package_on_executors(media.sparkSession)
    if use_real_codec and not have_pil():
        raise RuntimeError(
            "use_real_codec=True but PIL is not importable — "
            "pip install pillow, or pass use_real_codec=False/None "
            "for the deterministic fake"
        )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pil_ok = have_pil()
        for pdf in batches:
            rows = []
            for mid, blob, mime in zip(pdf["media_id"], pdf["media"], pdf["mime"]):
                b = bytes(blob)
                # the mime gate applies in BOTH real modes: forcing
                # use_real_codec=True must not shove text/audio bytes
                # into the image decoder (UnidentifiedImageError)
                real = (
                    (use_real_codec or (use_real_codec is None and pil_ok))
                    and str(mime).startswith("image/")
                )
                content, w, h, nf = _pil_decode(b) if real else _fake_decode(b)
                rows.append((int(mid), len(b), content, w, h, nf))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_bytes", "content_sha", "width", "height", "n_frames"],
            )

    from streaming_cdc_spark.session import fan_out

    return fan_out(media).mapInPandas(gen, FEATURE_SCHEMA)
