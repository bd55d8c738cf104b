"""One-permutation MinHash (OPH) with rotation densification + LSH banding.

Classic b-band/r-row MinHash needs b*r independent minimum computations per
doc; OPH (Li/Owen/Zhang 2012) gets all of them from ONE pass over the
shingle hash stream: the 63-bit hash value space is split into b*r buckets
(by a rehash of the value, decorrelating bucket choice from rank), and the
minimum value per bucket is the minhash for that position. Empty buckets
are filled by cyclic rotation from the nearest non-empty bucket
(Shrivastava/Li densification), keeping the LSH collision property.

This is the "pay hashing once" fan-out of the reference
(/root/reference/datasketches/src/hll/mod.rs:170-175: one murmur128 feeds
slot+value) applied to banding, and the bucket decorrelation mirrors the
stride-from-high-bits trick of common/hash_table.rs:425-427.

Vectorization: np.minimum.at over (doc, bucket) flat indices; densification
is a doubled-matrix cumulative-max forward fill; band hashes are one
xxh64 call over an (n_docs*b, r) uint64 matrix with per-row band seeds.
No per-row Python.
"""

from __future__ import annotations

import numpy as np

from .xxhash import xxh64_u64, xxh64_u64_matrix

_EMPTY = np.uint64(0xFFFFFFFFFFFFFFFF)
_BUCKET_SEED_XOR = 0xB1B0_5EED  # decorrelate bucket choice from hash rank


def oph_minhashes(
    values: np.ndarray, offsets: np.ndarray, num_perm: int, seed: int
) -> np.ndarray:
    """(n_docs, num_perm) uint64 densified OPH minhash matrix.

    ``values``/``offsets``: per-doc segments of distinct shingle hashes.
    Docs with no shingles yield all-_EMPTY rows (caller must exclude).
    """
    offsets = np.asarray(offsets, dtype=np.int64)
    n_docs = len(offsets) - 1
    m = np.full(n_docs * num_perm, _EMPTY, dtype=np.uint64)
    if len(values):
        doc_ids = np.repeat(np.arange(n_docs, dtype=np.int64), np.diff(offsets))
        bucket = (xxh64_u64(values, seed ^ _BUCKET_SEED_XOR) % np.uint64(num_perm)).astype(
            np.int64
        )
        # np.minimum.at is the right tool HERE: the scatter target is
        # n_docs*num_perm*8B (~5 MB per batch, L2/L3-resident), so the
        # scattered writes stay in cache — measured 6.5 ms vs 695 ms for a
        # lexsort+first-of-group fold on a 3.7M-shingle batch. The
        # CLAUDE.md "minimum.at is a slow path" rule is about DRAM-sized
        # scatter targets; parity with a sort-based oracle is pinned by
        # tests/test_sigkit.py::test_oph_segment_min_matches_minimum_at.
        np.minimum.at(m, doc_ids * num_perm + bucket, values)
    m = m.reshape(n_docs, num_perm)

    # rotation densification: fill each empty bucket from the nearest
    # non-empty bucket to its left, cyclically.
    valid = m != _EMPTY
    if not valid.all():
        # doubled index array keeps monotonically increasing positions so
        # maximum.accumulate yields the *most recent* valid bucket at or
        # before each column; the second copy provides the cyclic wrap.
        idx = np.arange(num_perm, dtype=np.int64)
        pos = np.where(valid, idx, np.int64(-1))
        pos_hi = np.where(valid, idx + num_perm, np.int64(-1))
        doubled = np.concatenate([pos, pos_hi], axis=1)
        ff = np.maximum.accumulate(doubled, axis=1)[:, num_perm:]
        rows_any = valid.any(axis=1)
        src = np.where(ff >= 0, ff % num_perm, 0)
        filled = np.take_along_axis(m, src, axis=1)
        m = np.where(rows_any[:, None], filled, m)
    return m


def band_hashes(minhashes: np.ndarray, num_bands: int, rows: int, seed: int) -> np.ndarray:
    """(n_docs, num_bands) int64 band hashes (63-bit, sign-safe).

    Band b of doc d hashes minhash columns [b*rows, (b+1)*rows) with a
    band-specific seed; docs collide in band b iff those r positions agree.
    """
    n_docs, num_perm = minhashes.shape
    assert num_perm == num_bands * rows
    # all (doc, band) rows in one call, row (d, b) seeded with seed + b
    seeds = np.tile(np.arange(seed, seed + num_bands, dtype=np.int64), n_docs)
    h = xxh64_u64_matrix(minhashes.reshape(n_docs * num_bands, rows), seeds)
    return (h >> np.uint64(1)).astype(np.int64).reshape(n_docs, num_bands)
