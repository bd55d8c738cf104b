"""Stage 1 — per-file signatures, map-side only (no shuffle).

The reference's build path (`/root/reference/datasketches/src/thetafamily/
theta/sketch.rs:128-130`: update → hash → theta-screen → k-min table) runs
here as one ``mapInArrow`` pass: each Arrow batch of files is tokenized,
shingled, hashed and reduced to

- ``minhash_kmv``: sorted k smallest distinct 63-bit shingle hashes — the
  ordered CompactThetaSketch form (theta/sketch.rs:321-332);
- ``theta64``: (k+1)-th smallest hash or i64::MAX in exact mode
  (common/hash_table.rs:388-401);
- ``bands``: OPH/LSH band hashes from the *same* shingle hash stream
  (hashing paid once, hll/mod.rs:170-175).

The seed-compatibility check (hash/seed.rs:30-55) is not a column: the
signatures stage's resume fingerprint includes ``cfg.cfg_hash()``.

``file_id``/``content_sha`` are computed JVM-side with ``F.sha2`` (stays in
whole-stage codegen); only the numeric kernel crosses into Arrow.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F

from ..config import PipelineConfig
from ..sigkit.arrow_buf import binary_array, doc_chunks, list_array, to_buf
from ..sigkit.kmv import kmv_signatures
from ..sigkit.oph import band_hashes, oph_minhashes
from ..sigkit.tokenize import shingle_hashes_buf

# content_sha is BINARY(32), not the 64-char hex string: it is the join /
# shuffle / group key of every downstream stage, and halving the key bytes
# halves the dominant shuffle payloads; byte-wise binary ordering equals
# hex-string ordering, so min-representative semantics are unchanged
# (render with lower(hex(...)) at output boundaries).
#
# minhash_kmv is a BINARY blob (k sorted uint64 little-endian hashes), not
# array<long>: shuffling 256-element arrays pays per-element UnsafeRow
# ser/deser on every exchange, while a blob is one memcpy — this is the
# column-form of the reference's CompactThetaSketch byte layout
# (theta/sketch.rs:321-332). Decode with np.frombuffer(b, '<u8').
SIGNATURE_SCHEMA = (
    "file_id string, content_sha binary, "
    "n_shingles long, minhash_kmv binary, theta64 long, bands array<long>"
)


# text bytes per kernel pass: the hashing steps make several full-size
# temporaries per pass, so smaller passes keep them closer to the core;
# 1 MiB ran fastest with 4 concurrent processes in a 0.5/1/2/4 MiB sweep
# (CLAUDE.md)
_CHUNK_BYTES = 1 << 20


def shingle_chunks(
    content: pa.Array, cfg: PipelineConfig
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """``shingle_hashes_buf`` of consecutive runs of at most _CHUNK_BYTES of
    text of a string column: one (values, offsets) pair per run, in order."""
    buf, doc_offs = to_buf(content)
    for chunk_buf, chunk_offs in doc_chunks(buf, doc_offs, _CHUNK_BYTES):
        yield shingle_hashes_buf(chunk_buf, chunk_offs, cfg.shingle_width, cfg.seed)


def signature_record_batch(rb: pa.RecordBatch, cfg: PipelineConfig) -> pa.RecordBatch:
    """Arrow-native signature kernel: UTF-8 bytes never become Python strs.

    The numpy pipeline runs per doc chunk (``shingle_chunks``); every
    result is per doc, so the chunks' results concatenate unchanged into
    one output batch per input batch.
    """
    n = rb.num_rows
    parts = []
    for vals, offs in shingle_chunks(rb.column(rb.schema.get_field_index("content")), cfg):
        sig_vals, _, theta, n_distinct = kmv_signatures(vals, offs, cfg.kmv_k)
        mh = oph_minhashes(vals, offs, cfg.num_perm, cfg.seed)
        bh = band_hashes(mh, cfg.num_bands, cfg.band_rows, cfg.seed)
        parts.append((sig_vals, theta, n_distinct, bh))
    sig_vals, theta, n_distinct, bh = (np.concatenate(p) for p in zip(*parts))

    sig_offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.minimum(n_distinct, cfg.kmv_k), out=sig_offs[1:])
    nonempty = n_distinct > 0
    band_offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.where(nonempty, cfg.num_bands, 0), out=band_offs[1:])
    band_vals = bh[nonempty].reshape(-1)

    return pa.RecordBatch.from_arrays(
        [
            rb.column(rb.schema.get_field_index("file_id")),
            rb.column(rb.schema.get_field_index("content_sha")),
            pa.array(n_distinct),
            binary_array(sig_vals.astype("<u8"), sig_offs),
            pa.array(theta),
            list_array(band_vals, band_offs),
        ],
        names=["file_id", "content_sha", "n_shingles", "minhash_kmv", "theta64", "bands"],
    )


def file_id() -> Column:
    """A corpus row's file key: sha256 hex of repo, path and commit joined
    by NUL, named ``file_id``."""
    return F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256).alias("file_id")


def compute_signatures(corpus: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """corpus(repo, path, commit, lang, content) → signature table.

    Map-side only: the plan is Scan → Project(sha2, codegen) →
    MapInArrow — zero exchanges, so it scales linearly with input splits;
    the kernel reads document bytes directly from Arrow buffers (no
    pandas/str materialization).
    """
    with_ids = corpus.select(
        file_id(),
        F.unhex(F.sha2(F.col("content"), 256)).alias("content_sha"),
        "content",
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows:
                yield signature_record_batch(rb, cfg)

    return with_ids.mapInArrow(run, schema=SIGNATURE_SCHEMA)
