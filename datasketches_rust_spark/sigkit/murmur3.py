"""Vectorized MurmurHash3 x64 128 in numpy.

Reimplements the public MurmurHash3 x64 128 algorithm (Appleby; constants
and structure per the reference library's hasher at
``/root/reference/datasketches/src/hash/murmurhash.rs``: block mix :88-112,
tail + finalization :48-85, fmix64 :170-177) as batch numpy kernels with no
per-item Python — the same dense length-bucketed shape as sigkit.xxhash.

This is the reference's item-hashing function for Count-Min (its
``bucket_index`` takes h1 of a seeded murmur128, countmin/sketch.rs:423-428,
with per-row seeds derived at :513-523), so the helpers here also expose:

- :func:`murmur3_row_seeds` — the exact per-row seed derivation
  (murmur128 of the row index's LE64 bytes under the sketch seed, h1).
- :func:`murmur3_bucket_indexes` — h1 % num_buckets per (item, row seed):
  the reference's bucket layout for raw-byte items, enabling
  reference-compatible Count-Min counter tables (see
  functions/sketches.countmin_sketch with ``ref_seed``). Byte framing note: the
  kernel hashes the given bytes verbatim; the reference hashes whatever
  Rust's ``Hash`` impl writes for the item type (e.g. ``str`` appends a
  0xFF terminator), so callers matching a specific Rust item type must
  reproduce that framing themselves.

Pinned by the reference's own test vectors (murmurhash.rs:208-249) plus an
independent scalar reimplementation in tests/test_murmur3.py.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from .arrow_buf import to_buf

U64 = np.uint64

_C1 = U64(0x87C37B91114253D5)  # murmurhash.rs:23
_C2 = U64(0x4CF5AD432745937F)  # murmurhash.rs:24
_M1 = U64(0xFF51AFD7ED558CCD)
_M2 = U64(0xC4CEB9FE1A85EC53)
_5 = U64(5)
_A1 = U64(0x52DCE729)
_A2 = U64(0x38495AB5)
_64 = U64(64)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r = U64(r)
    return (x << r) | (x >> (_64 - r))


def _fmix64(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> U64(33))
    k = k * _M1
    k = k ^ (k >> U64(33))
    k = k * _M2
    return k ^ (k >> U64(33))


def _murmur3_fixed(m: np.ndarray, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) of every row of a dense (n, L) uint8 matrix."""
    n, length = m.shape
    h1 = np.full(n, U64(seed % (1 << 64)), dtype=np.uint64)
    h2 = h1.copy()
    nblocks = length // 16
    if nblocks:
        lanes = np.ascontiguousarray(m[:, : nblocks * 16]).view("<u8")
        for b in range(nblocks):
            k1 = lanes[:, 2 * b] * _C1
            h1 = h1 ^ (_rotl(k1, 31) * _C2)
            h1 = _rotl(h1, 27) + h2
            h1 = h1 * _5 + _A1
            k2 = lanes[:, 2 * b + 1] * _C2
            h2 = h2 ^ (_rotl(k2, 33) * _C1)
            h2 = _rotl(h2, 31) + h1
            h2 = h2 * _5 + _A2
    rem = length % 16
    if rem:
        tb = np.zeros((n, 16), dtype=np.uint8)
        tb[:, :rem] = m[:, nblocks * 16:]
        tl = tb.view("<u8")
        if rem > 8:
            k2 = tl[:, 1] * _C2
            h2 = h2 ^ (_rotl(k2, 33) * _C1)
        k1 = tl[:, 0] * _C1
        h1 = h1 ^ (_rotl(k1, 31) * _C2)
    h1 = h1 ^ U64(length)
    h2 = h2 ^ U64(length)
    h1 = h1 + h2
    h2 = h2 + h1
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 = h1 + h2
    h2 = h2 + h1
    return h1, h2


def murmur3_x64_128(data: bytes, seed: int = 0) -> tuple[int, int]:
    """(h1, h2) of one byte string — scalar convenience form."""
    m = np.frombuffer(data, dtype=np.uint8).reshape(1, -1)
    h1, h2 = _murmur3_fixed(m, seed)
    return int(h1[0]), int(h2[0])


def murmur3_bytes(
    data: np.ndarray, offsets: np.ndarray, seed: int = 0
) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) arrays for ``n`` ragged byte strings in Arrow layout
    (flat uint8 buffer + (n+1,) offsets). Rows are bucketed by length so
    Python-level iteration is over distinct lengths only — the
    sigkit.xxhash.xxh64_slices pattern."""
    data = np.asarray(data, dtype=np.uint8)
    offsets = np.asarray(offsets, dtype=np.int64)
    starts, lengths = offsets[:-1], np.diff(offsets)
    n = len(lengths)
    out1 = np.empty(n, dtype=np.uint64)
    out2 = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out1, out2
    order = np.argsort(lengths, kind="stable")
    bounds = np.nonzero(np.diff(lengths[order]))[0] + 1
    for sel in np.split(order, bounds):
        length = int(lengths[sel[0]])
        if length == 0:
            rows = np.empty((len(sel), 0), dtype=np.uint8)
        else:
            rows = data[starts[sel, None] + np.arange(length, dtype=np.int64)]
        out1[sel], out2[sel] = _murmur3_fixed(rows, seed)
    return out1, out2


def murmur3_str_list(strings, seed: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) of each UTF-8 string in a Python list."""
    return murmur3_bytes(*to_buf(pa.array(strings, pa.string())), seed)


def murmur3_row_seeds(seed: int, num_hashes: int) -> np.ndarray:
    """The reference's per-row Count-Min hash seeds
    (countmin/sketch.rs:513-523): seed_i = h1(murmur128(LE64(i), seed))."""
    rows = np.arange(num_hashes, dtype="<u8").view(np.uint8).reshape(num_hashes, 8)
    h1, _ = _murmur3_fixed(rows, seed)
    return h1


def murmur3_bucket_indexes(
    data: np.ndarray, offsets: np.ndarray, row_seeds: np.ndarray, num_buckets: int
) -> np.ndarray:
    """(n, num_hashes) int64 bucket indexes for ragged byte items — the
    reference's ``bucket_index`` (countmin/sketch.rs:423-428):
    h1(murmur128(item, row_seed)) % num_buckets, one column per row seed.
    Items are hashed verbatim (see the module docstring's framing note)."""
    nb = U64(num_buckets)
    cols = []
    for s in np.asarray(row_seeds, dtype=np.uint64):
        h1, _ = murmur3_bytes(data, offsets, int(s))
        cols.append((h1 % nb).astype(np.int64))
    return np.stack(cols, axis=1) if cols else np.empty((len(offsets) - 1, 0), np.int64)
