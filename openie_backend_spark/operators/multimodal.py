"""Multimodal columns: images/audio/video as opaque ``binary`` columns
with typed metadata, processed with Arrow-batched ``mapInPandas``.

Decode: ``_decode_image`` routes through PIL when it is importable
(grayscale decode → resize → normalized pixel vector) and otherwise
falls back to a clearly-marked deterministic fake (md5-seeded pixels).
This container ships no codecs, so the fake is what runs here — the
row stays "plumbing-only" in COVERAGE.md — but the Spark-side plumbing
(schema, batch iteration, partition sizing, UDF signatures) is real
and tested, and a PIL-enabled build exercises the real path via
``test_real_image_decode_with_pil`` (auto-skips without PIL).

Scale notes: binary payloads ride in their own column so column
pruning keeps metadata-only queries off the blobs;
``spark.sql.files.maxPartitionBytes`` governs blob-scan partitioning;
the UDFs stream per Arrow batch and never materialize a partition.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType, LongType, StringType,
    StructField, StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),       # image | audio | video
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
        StructField("payload", BinaryType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("feature", ArrayType(FloatType()), False),
        StructField("payload_bytes", IntegerType(), False),
    ]
)


try:  # optional codec: present on PIL-enabled builds, absent here
    from PIL import Image as _PILImage
except ImportError:  # pragma: no cover - the in-container branch
    _PILImage = None


def _decode_image(payload: bytes, dim: int = 16) -> np.ndarray:
    """Image payload → dim-length float32 feature vector.

    With PIL importable: real decode — grayscale, resize to a grid of
    ~dim pixels, normalized pixel intensities (deterministic for a
    given payload). Without PIL, or for payloads PIL cannot parse: the
    DETERMINISTIC FAKE (md5-seeded pixels) so downstream plumbing is
    fully exercised and reproducible; this container ships no codecs,
    so the fake is the in-container behavior."""
    if payload is None:
        raise NotImplementedError("real image decode requires PIL; payload missing")
    if _PILImage is not None:
        import io

        try:
            img = _PILImage.open(io.BytesIO(bytes(payload))).convert("L")
            side = max(int(dim ** 0.5), 1)
            img = img.resize((side, max(dim // side, 1)))
            arr = np.asarray(img, dtype=np.float32).ravel() / 255.0
            out = np.zeros(dim, dtype=np.float32)
            out[: min(dim, arr.size)] = arr[:dim]
            return out
        except Exception:
            pass  # non-image payload → deterministic fingerprint below
    digest = hashlib.md5(payload).digest()
    rng = np.random.default_rng(int.from_bytes(digest[:8], "big"))
    return rng.random(dim, dtype=np.float64).astype(np.float32)


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """media → (media_id, feature vector, payload size). One Arrow
    pass; metadata columns pruned away before the Python stage."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats, sizes = [], []
            for payload in pdf["payload"]:
                b = bytes(payload) if payload is not None else b""
                feats.append(_decode_image(b, dim).tolist())
                sizes.append(len(b))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "feature": feats, "payload_bytes": sizes}
            )

    return media.select("media_id", "payload").mapInPandas(batches, FEATURE_SCHEMA)


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic media table for tests (payload = seeded bytes)."""
    rows = []
    for i in range(n):
        payload = hashlib.sha256(f"media:{i}".encode()).digest() * 4
        kind = ("image", "audio", "video")[i % 3]
        rows.append((i, kind, f"application/x-fake-{kind}", 64, 64, 1000 + i, payload))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
