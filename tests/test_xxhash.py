"""Pin the numpy XXH64 kernel against the reference's official vectors.

Vectors from /root/reference/datasketches/src/hash/xxhash.rs:222-267
(fill_test_buffer + test_vectors_seed_zero/prime32 + hash_u64 long check).
Spark F.xxhash64 parity is covered in tests/test_spark_parity.py.
"""

import numpy as np

from datasketches_rust_spark.sigkit.oph import band_hashes
from datasketches_rust_spark.sigkit.xxhash import (
    xxh64_bytes,
    xxh64_slices,
    xxh64_str_list,
    xxh64_u64,
)

PRIME32 = 0x9E3779B1
PRIME64 = 0x9E3779B185EBCA8D


def fill_test_buffer(n: int) -> bytes:
    out = bytearray(n)
    gen = PRIME32
    for i in range(n):
        out[i] = (gen >> 56) & 0xFF
        gen = (gen * PRIME64) % (1 << 64)
    return bytes(out)


M64 = (1 << 64) - 1
P = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
     0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)


def _xxh64_ref(buf: bytes, seed: int) -> int:
    """Scalar XXH64 straight from the spec, independent of the numpy kernel."""
    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & M64

    def rnd(acc, lane):
        return rotl((acc + lane * P[1]) & M64, 31) * P[0] & M64

    def word(i, size):
        return int.from_bytes(buf[i : i + size], "little")

    n, pos = len(buf), 0
    if n >= 32:
        v = [(seed + P[0] + P[1]) & M64, (seed + P[1]) & M64, seed, (seed - P[0]) & M64]
        while pos + 32 <= n:
            v = [rnd(v[i], word(pos + 8 * i, 8)) for i in range(4)]
            pos += 32
        h = (rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12) + rotl(v[3], 18)) & M64
        for x in v:
            h = ((h ^ rnd(0, x)) * P[0] + P[3]) & M64
    else:
        h = (seed + P[4]) & M64
    h = (h + n) & M64
    while pos + 8 <= n:
        h = (rotl(h ^ rnd(0, word(pos, 8)), 27) * P[0] + P[3]) & M64
        pos += 8
    if pos + 4 <= n:
        h = (rotl(h ^ (word(pos, 4) * P[0] & M64), 23) * P[1] + P[2]) & M64
        pos += 4
    while pos < n:
        h = rotl(h ^ (buf[pos] * P[4] & M64), 11) * P[0] & M64
        pos += 1
    for shift, prime in ((33, P[1]), (29, P[2])):
        h = (h ^ (h >> shift)) * prime & M64
    return h ^ (h >> 32)


def _hash_one(buf: bytes, seed: int) -> int:
    data = np.frombuffer(buf, dtype=np.uint8)
    offsets = np.array([0, len(buf)], dtype=np.int64)
    return int(xxh64_bytes(data, offsets, seed)[0])


def test_vectors_seed_zero():
    buf = fill_test_buffer(101)
    assert _hash_one(buf[:0], 0) == 0xEF46DB3751D8E999
    assert _hash_one(buf[:1], 0) == 0xE934A84ADB052768
    assert _hash_one(buf[:32], 0) == 0x18B216492BB44B70
    assert _hash_one(buf[:33], 0) == 0x55C8DC3E578F5B59
    assert _hash_one(buf[:100], 0) == 0x4BFE019CD91D9EA4


def test_vectors_seed_prime32():
    buf = fill_test_buffer(101)
    assert _hash_one(buf[:0], PRIME32) == 0xAC75FDA2929B17EF
    assert _hash_one(buf[:1], PRIME32) == 0x5014607643A9B4C3
    assert _hash_one(buf[:32], PRIME32) == 0xB3F33BDF93ADE409
    assert _hash_one(buf[:100], PRIME32) == 0x4853706DC9625CAE


def test_all_lengths_against_batched():
    """Ragged batch of every length 0..96 equals per-string hashing."""
    buf = fill_test_buffer(96)
    strs = [buf[:i] for i in range(97)]
    offsets = np.zeros(98, dtype=np.int64)
    np.cumsum([len(s) for s in strs], out=offsets[1:])
    data = np.frombuffer(b"".join(strs), dtype=np.uint8)
    batched = xxh64_bytes(data, offsets, seed=7)
    singles = np.array([_hash_one(s, 7) for s in strs], dtype=np.uint64)
    assert np.array_equal(batched, singles)


def test_hash_u64_matches_8byte_path():
    """XxHash64::hash_u64(x, seed) == write(x.to_le_bytes()) (xxhash.rs:258-266)."""
    rng = np.random.default_rng(9001)
    xs = rng.integers(0, 1 << 63, size=257, dtype=np.uint64)
    for seed in (0, 42, PRIME32):
        fast = xxh64_u64(xs, seed)
        slow = np.array(
            [_hash_one(int(x).to_bytes(8, "little"), seed) for x in xs], dtype=np.uint64
        )
        assert np.array_equal(fast, slow)
        assert np.array_equal(xxh64_u64(xs[:256].reshape(16, 16), seed), fast[:256].reshape(16, 16))
        assert xxh64_u64(xs[0], seed) == fast[0]


def test_str_list_wrapper():
    vals = ["", "a", "hello world", "x" * 100]
    h = xxh64_str_list(vals, seed=42)
    assert len(h) == 4
    assert len(set(h.tolist())) == 4


def test_scalar_reference_matches_vectors():
    buf = fill_test_buffer(101)
    assert _xxh64_ref(buf[:0], 0) == 0xEF46DB3751D8E999
    assert _xxh64_ref(buf[:33], 0) == 0x55C8DC3E578F5B59
    assert _xxh64_ref(buf[:100], PRIME32) == 0x4853706DC9625CAE


def test_slices_every_length_at_unaligned_starts():
    """One ragged call over every length 0..100 at each start offset 0..7
    of an exactly sized buffer, plus every slice that ends on the buffer's
    last byte: the word views must neither misread nor run past the end."""
    raw = fill_test_buffer(109)
    data = np.frombuffer(raw, dtype=np.uint8)
    starts = [s for s in range(8) for _ in range(101)]
    lengths = [n for _ in range(8) for n in range(101)]
    starts += [len(raw) - n for n in range(101)]
    lengths += list(range(101))
    for seed in (0, 9001):
        got = xxh64_slices(data, np.array(starts), np.array(lengths), seed)
        want = [_xxh64_ref(raw[s : s + n], seed) for s, n in zip(starts, lengths)]
        assert got.tolist() == want


def test_band_hashes_one_call_matches_per_band_loop():
    """The per-row-seeded band hash equals hashing each band's r minhashes
    as 8r little-endian bytes with seed + band."""
    rng = np.random.default_rng(5)
    for rows in range(1, 9):
        num_bands, n_docs = 3, 4
        mh = rng.integers(0, 1 << 64, size=(n_docs, num_bands * rows), dtype=np.uint64)
        for seed in (0, 42, 9001):
            got = band_hashes(mh, num_bands, rows, seed)
            for d in range(n_docs):
                for b in range(num_bands):
                    band = mh[d, b * rows : (b + 1) * rows].astype("<u8").tobytes()
                    assert got[d, b] == _xxh64_ref(band, seed + b) >> 1
