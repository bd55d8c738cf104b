"""Vectorized XXH64 in numpy.

Reimplements the XXH64 algorithm (constants and structure per the public
xxHash spec; the reference implementation lives at
``/root/reference/datasketches/src/hash/xxhash.rs:25-29`` (primes),
``:108-117`` (``hash_u64`` 8-byte fast path) and ``:151-197``
(finish/finalize)) as batch numpy kernels with no per-item Python.

Two entry points:

- :func:`xxh64_u64` — the 8-byte little-endian fast path, vectorized over a
  ``uint64`` array (mirrors ``XxHash64::hash_u64``). This is the in-kernel
  workhorse for re-hashing shingle hashes (band seeds, salting).
- :func:`xxh64_bytes` — arbitrary-length byte strings given as one
  concatenated ``uint8`` buffer plus offsets (exactly the Arrow string
  layout). Internally buckets rows by length so every bucket is processed as
  one vector per input word, with loops only over *length*, never over rows.

Spark's built-in ``F.xxhash64`` is the same XXH64 (seed 42); parity is
pinned in tests/test_xxhash.py against both the reference's official test
vectors (``xxhash.rs:239-267``) and Spark itself.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from .arrow_buf import to_buf

U64 = np.uint64

P1 = U64(0x9E3779B185EBCA87)
P2 = U64(0xC2B2AE3D27D4EB4F)
P3 = U64(0x165667B19E3779F9)
P4 = U64(0x85EBCA77C2B2AE63)
P5 = U64(0x27D4EB2F165667C5)


def _rotl_(x: np.ndarray, r: int, scratch: np.ndarray) -> None:
    """x = rotl64(x, r), in place."""
    np.left_shift(x, U64(r), out=scratch)
    np.right_shift(x, U64(64 - r), out=x)
    x |= scratch


def _round0(lane: np.ndarray, out: np.ndarray, scratch: np.ndarray) -> np.ndarray:
    """out = XXH64 round of ``lane`` on a zero accumulator: rotl(lane·P2, 31)·P1."""
    np.multiply(lane, P2, out=out)
    _rotl_(out, 31, scratch)
    out *= P1
    return out


def _finalize_(h: np.ndarray, scratch: np.ndarray) -> np.ndarray:
    """The XXH64 avalanche, in place."""
    for shift, prime in ((33, P2), (29, P3)):
        np.right_shift(h, U64(shift), out=scratch)
        h ^= scratch
        h *= prime
    np.right_shift(h, U64(32), out=scratch)
    h ^= scratch
    return h


def _seeded(seed, add: int, n: int) -> np.ndarray:
    """(n,) uint64 ``seed + add`` mod 2^64; ``seed`` is an int or an (n,) array."""
    if np.ndim(seed):
        return np.asarray(seed, dtype=np.uint64) + U64(add % (1 << 64))
    return np.full(n, U64((seed + add) % (1 << 64)))


def xxh64_u64(x, seed: int = 0) -> np.ndarray:
    """XXH64 of each value's 8-byte little-endian encoding (vectorized).

    Matches ``XxHash64::hash_u64`` (xxhash.rs:108-117) and
    ``xxh64(long)`` semantics of Spark's ``F.xxhash64`` on LongType.
    """
    x = np.asarray(x, dtype=np.uint64)
    flat = x.ravel()
    return _xxh64_lanes(lambda pos, dt: flat, flat.size, 8, seed).reshape(x.shape)


def _xxh64_lanes(lane, n: int, length: int, seed) -> np.ndarray:
    """XXH64 of ``n`` byte strings of one ``length``: ``lane(pos, dtype)``
    returns the (n,) little-endian ``<u8``, ``<u4`` or ``u1`` word at byte
    ``pos`` of every string, and is only asked for words inside the
    strings. ``seed`` is one int or an (n,) array of per-row seeds.

    Every step is an ``out=`` ufunc over the result, two scratch arrays
    and, in the stripe path, the four accumulators.
    """
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    t = np.empty(n, dtype=np.uint64)
    u = np.empty(n, dtype=np.uint64)
    if length >= 32:
        vs = [_seeded(seed, add, n) for add in (int(P1) + int(P2), int(P2), 0, -int(P1))]
        for pos in range(0, length - 31, 32):
            for i, v in enumerate(vs):
                v += np.multiply(lane(pos + 8 * i, "<u8"), P2, out=t)
                _rotl_(v, 31, t)
                v *= P1
        h = np.zeros(n, dtype=np.uint64)
        for v, r in zip(vs, (1, 7, 12, 18)):
            np.left_shift(v, U64(r), out=t)
            np.right_shift(v, U64(64 - r), out=u)
            t |= u
            h += t
        for v in vs:
            h ^= _round0(v, t, u)
            h *= P1
            h += P4
        pos = length // 32 * 32
    else:
        h = _seeded(seed, int(P5), n)
        pos = 0

    h += U64(length)

    while pos + 8 <= length:
        h ^= _round0(lane(pos, "<u8"), t, u)
        _rotl_(h, 27, t)
        h *= P1
        h += P4
        pos += 8
    if pos + 4 <= length:
        h ^= np.multiply(lane(pos, "<u4"), P1, out=t)
        _rotl_(h, 23, t)
        h *= P2
        h += P3
        pos += 4
    while pos < length:
        h ^= np.multiply(lane(pos, "u1"), P5, out=t)
        _rotl_(h, 11, t)
        h *= P1
        pos += 1
    return _finalize_(h, t)


def xxh64_slices(
    data: np.ndarray, starts: np.ndarray, lengths: np.ndarray, seed: int = 0
) -> np.ndarray:
    """XXH64 of ``n`` ragged byte slices ``data[starts[i]:starts[i]+lengths[i]]``.

    Rows are bucketed by length; a bucket's words at byte ``pos`` are one
    gather ``words[starts + pos]`` from a zero-copy view of ``data`` that
    has a (possibly unaligned) word at every byte offset, so Python-level
    iteration is over distinct lengths only and no (n, L) matrix is built.
    """
    data = np.ascontiguousarray(data, dtype=np.uint8)
    starts = np.asarray(starts, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    n = len(lengths)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out
    # word i of each view is the word starting at byte i; the views end
    # where their last word ends on the buffer's last byte
    words = {
        dt: np.ndarray((max(len(data) - np.dtype(dt).itemsize + 1, 0),), dt, data, 0, (1,))
        for dt in ("<u8", "<u4", "u1")
    }
    # one argsort groups equal lengths contiguously — the per-unique-length
    # `lengths == L` formulation rescanned the whole array once per
    # distinct length (~40 full passes on a code-token batch). Stable int
    # argsort is a radix sort with one pass per key byte for 8- and 16-bit
    # keys, so the lengths are sorted in the narrowest unsigned type that
    # holds them (uint16 measured ~4× faster than int64 on a 490k-token
    # batch); identical order.
    order = np.argsort(lengths.astype(np.min_scalar_type(int(lengths.max()))), kind="stable")
    for sel in np.split(order, np.flatnonzero(np.diff(lengths[order])) + 1):
        s = starts[sel]
        length = int(lengths[sel[0]])
        out[sel] = _xxh64_lanes(lambda pos, dt: words[dt][s + pos], len(sel), length, seed)
    return out


def xxh64_u64_matrix(m: np.ndarray, seed=0) -> np.ndarray:
    """XXH64 of each row of an (n, w) uint64 matrix, hashed as 8w LE bytes.

    ``seed`` is one int or an (n,) array of per-row seeds, so band hashing
    (r consecutive bucket minhashes, seed + band) is one call per batch.
    Each word is a zero-copy strided view of the matrix.
    """
    m = np.ascontiguousarray(m, dtype="<u8")
    n, w = m.shape
    b = m.view(np.uint8).reshape(n, 8 * w)
    return _xxh64_lanes(lambda pos, dt: np.ndarray((n,), dt, b, pos, (8 * w,)), n, 8 * w, seed)


def xxh64_bytes(data: np.ndarray, offsets: np.ndarray, seed: int = 0) -> np.ndarray:
    """XXH64 of ``n`` ragged byte strings in Arrow layout.

    ``data`` is a flat uint8 buffer, ``offsets`` an (n+1,) int array; row i
    is ``data[offsets[i]:offsets[i+1]]``.
    """
    offsets = np.asarray(offsets, dtype=np.int64)
    return xxh64_slices(data, offsets[:-1], np.diff(offsets), seed)


def xxh64_str_list(strings, seed: int = 0) -> np.ndarray:
    """Convenience wrapper: XXH64 of each UTF-8 string in a Python list."""
    return xxh64_bytes(*to_buf(pa.array(strings, pa.string())), seed)
