"""SimHash near-dup candidate pairs via bit-sliced banding.

Pairs of documents whose 64-bit SimHash fingerprints are within a Hamming
radius. Candidate generation uses the pigeonhole principle: split the 64
bits into 8 bytes; any pair with Hamming distance <= 7 agrees on at least
one byte, so bucketing on (band, byte) finds every such pair. Three steps:

- fingerprints: an Arrow kernel, the signature kernel's SimHash over the
  same shingle hash stream as MinHash (sigkit.simhash);
- candidates: the shared Arrow bucket kernel (operators/buckets.py);
- verify: ``bit_count(a XOR b) <= radius``, a JVM expression.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType

from ..config import PipelineConfig
from ..sigkit.simhash import simhash64
from .signatures import shingle_chunks


def simhash_fingerprints(
    docs: DataFrame,
    cfg: PipelineConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, simhash64) per doc, hashed from the Arrow text buffer by the
    signature kernel's path (``shingle_chunks``); a null text is an
    empty doc (fingerprint 0)."""
    schema = docs.select(id_col).schema.add("simhash64", LongType())

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if not rb.num_rows:
                continue
            fp = np.concatenate([simhash64(v, o) for v, o in shingle_chunks(rb.column(1), cfg)])
            yield pa.RecordBatch.from_arrays([rb.column(0), pa.array(fp)], [id_col, "simhash64"])

    return docs.select(id_col, text_col).mapInArrow(run, schema)


def simhash_pairs(
    docs: DataFrame,
    cfg: PipelineConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 7,
    max_bucket: int | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with Hamming(simhash) <= max_hamming.

    Complete for max_hamming <= 7 (8-byte pigeonhole) while every byte
    bucket stays <= max_bucket; hotter buckets (the degenerate case: many
    near-identical fingerprints) fall back to a star to the bucket-min
    member — O(m) pairs, connectivity preserved for downstream clustering.
    The band join carries ids only; fingerprints are re-attached to the
    distinct pair set for the bit_count verify.
    """
    cfg = cfg or PipelineConfig()
    if max_bucket is None:
        max_bucket = cfg.max_bucket_size
    from .buckets import capped_bucket_pairs

    fp = simhash_fingerprints(docs, cfg, id_col, text_col).localCheckpoint(eager=False)
    bands = F.array(
        [
            F.shiftrightunsigned(F.col("simhash64"), 8 * b).bitwiseAND(F.lit(255))
            for b in range(8)
        ]
    )
    keys = fp.select(
        F.col(id_col).alias("__id"), F.posexplode(bands).alias("band", "byte")
    )
    pairs = capped_bucket_pairs(keys, ["band", "byte"], "__id", max_bucket)
    sa = fp.select(F.col(id_col).alias("id_a"), F.col("simhash64").alias("__sa"))
    sb = fp.select(F.col(id_col).alias("id_b"), F.col("simhash64").alias("__sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.col("id_a").alias(f"{id_col}_a"),
            F.col("id_b").alias(f"{id_col}_b"),
            F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
