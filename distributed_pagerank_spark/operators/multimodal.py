"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video travel as ``binary`` columns with a metadata struct.
The Spark-side machinery — schema, partition-size control, Arrow batch
shape, ``mapInPandas`` UDF signatures — is real and tested; the actual
codec work is stubbed (no image/audio libraries in this container) behind
``decoder=`` hooks: the default ``deterministic_fake_decode`` produces
seeded, reproducible pseudo-pixels so downstream feature extraction is
testable end-to-end, and ``strict_decode`` raises ``NotImplementedError``
marking exactly where a real codec (Pillow/ffmpeg) plugs in.

Design for 100 TB: binary payloads never pass through Python row-at-a-time
— every transform is ``mapInPandas`` over Arrow batches, and
``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds batch memory
(binary cells are large; callers should lower it for >1 MB payloads).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, duration_ms:int>"
)

FEATURE_SCHEMA = "media_id long, kind string, n_bytes long, features array<double>"


def attach_binary_payload(
    df: DataFrame, id_col: str, text_col: str, kind: str = "image"
) -> DataFrame:
    """Test-scale helper: wrap an existing column as an opaque binary
    payload with a deterministic metadata struct (stands in for reading
    real media files; schema matches the production contract)."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit(kind).alias("kind"),
        payload.alias("payload"),
        F.struct(
            (F.pmod(F.xxhash64(id_col), F.lit(512)) + 16).cast("int").alias("width"),
            (F.pmod(F.xxhash64(id_col, F.lit(1)), F.lit(512)) + 16).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.octet_length(payload) * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def deterministic_fake_decode(payload: bytes, width: int, height: int):
    """STUB decoder: seeded pseudo-pixels from the payload bytes. Replace
    with a real codec in production; deterministic so tests can assert."""
    import numpy as np

    seed = (len(payload) * 2654435761) & 0xFFFFFFFF
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(height, width), dtype=np.uint8)


def strict_decode(payload: bytes, width: int, height: int):
    """Production hook: no codec libraries in this environment."""
    raise NotImplementedError(
        "real media decoding requires Pillow/ffmpeg; wire a codec here"
    )


def extract_features(
    media: DataFrame,
    decoder: Callable = deterministic_fake_decode,
    n_features: int = 8,
) -> DataFrame:
    """Decode + featurize binary payloads via Arrow-batched mapInPandas.

    Features here are simple intensity-histogram fractions of the decoded
    array — the point is the distributed plumbing (batch iterator in,
    batch iterator out, bounded memory), not the CV."""

    def fe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats, nbytes = [], []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                nbytes.append(len(payload))
                img = decoder(payload, int(meta["width"]), int(meta["height"]))
                hist, _ = np.histogram(img, bins=n_features, range=(0, 256))
                feats.append((hist / hist.sum()).tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": nbytes,
                    "features": feats,
                }
            )

    return media.mapInPandas(fe, FEATURE_SCHEMA)

