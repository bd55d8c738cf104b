"""Multimodal (image/audio/video) column plumbing.

Media assets are opaque ``binary`` columns with a typed metadata struct —
the Spark-side contract a 100 TB training-data pipeline needs: schema,
Arrow batch shape, partitioning and fan-out are all real; only the codec
call itself is stubbed (the sandbox has no image/audio libraries).

- :func:`attach_media_meta` — sniff container format + sizes from magic
  bytes (real, vectorized).
- :func:`extract_features` — mapInArrow over Arrow batches producing a
  fixed-dim *deterministic* byte-statistics vector per asset, so the full
  pipeline (including dedup over media features) is testable; a real
  codec (PIL/torchaudio/ffmpeg) plugs in at ``_fake_decode_features``.
- :func:`frame_sample_plan` — deterministic frame-index sampling for video
  rows (pure arithmetic on metadata, no decode needed).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType, DoubleType

from ..sigkit.arrow_buf import list_array, to_buf

MEDIA_SCHEMA = "struct<format string, n_bytes long, magic string>"

_MAGICS = [
    ("89504e47", "png"),
    ("ffd8ff", "jpeg"),
    ("47494638", "gif"),
    ("52494646", "riff"),  # wav/avi container
    ("494433", "mp3"),
    ("000000", "mp4-ish"),
]


def attach_media_meta(df: DataFrame, binary_col: str) -> DataFrame:
    """Add a typed metadata struct sniffed from the binary column (JVM)."""
    b = F.col(binary_col)
    magic = F.lower(F.hex(F.substring(b, 1, 4)))
    fmt = F.lit("unknown")
    for prefix, name in reversed(_MAGICS):
        fmt = F.when(magic.startswith(prefix.upper()) | magic.startswith(prefix), F.lit(name)).otherwise(fmt)
    return df.withColumn(
        "media_meta",
        F.struct(
            fmt.alias("format"),
            F.length(b).cast("long").alias("n_bytes"),
            magic.alias("magic"),
        ),
    )


FEATURE_DIM = 16


def _fake_decode_features(buf: np.ndarray, offs: np.ndarray) -> np.ndarray:
    """Deterministic byte-statistics 'features' standing in for a decoder:
    each asset's histogram of high nibbles, normalized (zeros when empty).

    Real deployment replaces this with PIL/torchaudio/ffmpeg decode +
    model features; the Spark plumbing (batch shape, schema, partitioning)
    is identical.
    """
    n = len(offs) - 1
    asset = np.repeat(np.arange(n, dtype=np.int64), np.diff(offs))
    hist = np.bincount(asset * FEATURE_DIM + (buf >> 4), minlength=n * FEATURE_DIM)
    hist = hist.reshape(n, FEATURE_DIM).astype(np.float64)
    total = hist.sum(axis=1, keepdims=True)
    return np.divide(hist, total, out=np.zeros_like(hist), where=total > 0)


def extract_features(df: DataFrame, binary_col: str, id_col: str) -> DataFrame:
    """(id, features array<double>) per asset via Arrow-batched decode."""
    schema = df.select(id_col).schema.add("features", ArrayType(DoubleType()))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            feats = _fake_decode_features(*to_buf(rb.column(1)))
            offsets = np.arange(0, feats.size + 1, FEATURE_DIM)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), list_array(feats.reshape(-1), offsets)],
                [id_col, "features"],
            )

    return df.select(id_col, binary_col).mapInArrow(run, schema)


def frame_sample_plan(
    df: DataFrame,
    id_col: str,
    n_frames_col: str,
    sample_every: int = 30,
    max_frames: int = 8,
) -> DataFrame:
    """Deterministic frame indices to decode per video (pure JVM)."""
    n = F.col(n_frames_col).cast("long")
    idx = F.slice(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(sample_every)),
        1,
        max_frames,
    )
    return df.select(F.col(id_col), idx.alias("frame_indices"))
