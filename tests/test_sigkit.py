"""sigkit unit tests — mirror the reference's exact-mode assertions.

Models: /root/reference/datasketches/tests/theta_test/sketch.rs:22-117
(exact estimates, duplicate-insensitivity, trim-to-k oracle) and
tests/theta_test/jaccard_similarity.rs:23-48 (exact in exact mode,
small margins in estimation mode).
"""

import numpy as np
import pytest

from datasketches_rust_spark.config import MAX_THETA63, PipelineConfig
from datasketches_rust_spark.sigkit.bottom_k import GroupedBottomK
from datasketches_rust_spark.sigkit.kmv import (
    a_not_b,
    estimate,
    intersect_merge,
    jaccard_estimate,
    kmv_signatures,
    union_merge,
)
from datasketches_rust_spark.sigkit.oph import band_hashes, oph_minhashes
from datasketches_rust_spark.sigkit.simhash import hamming64, simhash64
from datasketches_rust_spark.sigkit.tokenize import (
    concat_docs,
    shingle_hashes,
    sorted_distinct,
    token_hash_stream_buf,
)
from datasketches_rust_spark.sigkit.union_find import union_find
from datasketches_rust_spark.sigkit.xxhash import xxh64_u64

CFG = PipelineConfig()


def _seg(values_per_doc):
    """Build (values, offsets) from a list of per-doc hash lists."""
    offs = np.zeros(len(values_per_doc) + 1, dtype=np.int64)
    np.cumsum([len(v) for v in values_per_doc], out=offs[1:])
    vals = np.concatenate(
        [np.sort(np.unique(np.asarray(v, dtype=np.uint64))) for v in values_per_doc]
    ) if values_per_doc and any(len(v) for v in values_per_doc) else np.empty(0, np.uint64)
    return vals, offs


def _stream(n, salt=0):
    """Deterministic synthetic distinct 63-bit hash stream of size n."""
    h = xxh64_u64(np.arange(n, dtype=np.uint64), seed=1234 + salt) >> np.uint64(1)
    return np.unique(h)


# ---------------------------------------------------------------- tokenize

def test_tokenizer_matches_python_regex():
    import re

    texts = [
        "def foo(x, y):\n    return x + y  # add",
        "",
        "...!!!",
        "snake_case CamelCase x1 2x _",
        "unicode héllo wörld",  # multibyte separators
    ]
    hashes, tok_off = token_hash_stream_buf(*concat_docs(texts), CFG.seed)
    rx = re.compile("[A-Za-z0-9_]+")
    for i, t in enumerate(texts):
        toks = rx.findall(t)
        assert tok_off[i + 1] - tok_off[i] == len(toks), t


def test_shingles_duplicate_insensitive():
    """Same text repeated → identical shingle set (theta_test/sketch.rs:69-78)."""
    t = "a b c d e f g h i j k l m n"
    vals, offs = shingle_hashes([t, t + " " + t], width=5, seed=CFG.seed)
    a = vals[offs[0]:offs[1]]
    b = vals[offs[1]:offs[2]]
    # doubling the text adds bridge shingles but every original shingle is there
    assert np.isin(a, b).all()


def test_shingles_short_and_empty_docs():
    vals, offs = shingle_hashes(["one two", "", "a b c d e"], width=5, seed=CFG.seed)
    assert offs[1] - offs[0] == 1  # short doc → single whole-sequence shingle
    assert offs[2] - offs[1] == 0  # empty doc → none
    assert offs[3] - offs[2] == 1  # exactly 5 tokens → one 5-gram


def test_shingle_count_formula():
    words = " ".join(f"w{i}" for i in range(100))
    vals, offs = shingle_hashes([words], width=5, seed=CFG.seed)
    assert offs[1] == 96  # n - w + 1 distinct shingles
    assert np.all(np.diff(vals[: offs[1]]) > 0)  # sorted distinct


def test_sorted_distinct_screens_zero_hashes():
    """The zero screen and the recount of the count-based layout on
    synthetic values (real shingle hashes never reach zero): a zero opens
    a doc's sorted slice, including a short doc's single shingle."""
    docs = [[0, 0, 5, 5, 9], [0], [], [3], [0, 7], [4, 4], [0, 0], [1, 2, 2, 3]]
    offs = np.zeros(len(docs) + 1, dtype=np.int64)
    np.cumsum([len(d) for d in docs], out=offs[1:])
    vals = np.array([v for d in docs for v in d], dtype=np.uint64)
    got_vals, got_offs = sorted_distinct(vals, offs)
    want = [sorted(set(d) - {0}) for d in docs]
    assert [got_vals[got_offs[i]:got_offs[i + 1]].tolist() for i in range(len(docs))] == want

    rng = np.random.default_rng(3)
    sizes = rng.integers(0, 6, size=200)
    offs = np.zeros(len(sizes) + 1, dtype=np.int64)
    np.cumsum(sizes, out=offs[1:])
    vals = rng.integers(0, 4, size=int(offs[-1])).astype(np.uint64)
    for i in range(len(sizes)):
        vals[offs[i]:offs[i + 1]].sort()
    got_vals, got_offs = sorted_distinct(vals, offs)
    for i in range(len(sizes)):
        want = np.setdiff1d(vals[offs[i]:offs[i + 1]], [0])
        assert np.array_equal(got_vals[got_offs[i]:got_offs[i + 1]], want)


# ---------------------------------------------------------------- kmv

def test_kmv_exact_mode():
    s = _stream(100)
    vals, offs, theta, n = kmv_signatures(s, np.array([0, len(s)]), k=256)
    assert theta[0] == MAX_THETA63
    assert n[0] == len(s)
    assert estimate(np.diff(offs), theta)[0] == pytest.approx(len(s))


def test_kmv_trim_to_k_oracle():
    """Signature of big stream == k smallest exact hashes (sketch.rs:94-117)."""
    s = _stream(10_000)
    k = 256
    vals, offs, theta, n = kmv_signatures(s, np.array([0, len(s)]), k=k)
    assert np.array_equal(vals, np.sort(s)[:k])
    assert theta[0] == int(np.sort(s)[k])
    est = estimate(np.array([k]), theta)[0]
    assert est == pytest.approx(len(s), rel=0.15)  # ~1/sqrt(256) ≈ 6% RSE


def test_union_intersection_anotb_exact():
    a = _stream(500, salt=1)
    b = _stream(500, salt=2)
    k = 4096  # exact mode
    u, theta_u = union_merge(a, MAX_THETA63, b, MAX_THETA63, k)
    assert set(u.tolist()) == set(a.tolist()) | set(b.tolist())
    i, _ = intersect_merge(a, MAX_THETA63, b, MAX_THETA63)
    assert set(i.tolist()) == set(a.tolist()) & set(b.tolist())
    d, _ = a_not_b(a, MAX_THETA63, b, MAX_THETA63)
    assert set(d.tolist()) == set(a.tolist()) - set(b.tolist())


def test_jaccard_exact_mode():
    """Exact-mode jaccard is exact (jaccard_similarity.rs:23-31)."""
    base = _stream(1000)
    a, b = base[:800], base[200:]  # overlap 600, union 1000
    assert jaccard_estimate(a, MAX_THETA63, b, MAX_THETA63) == pytest.approx(0.6)
    assert jaccard_estimate(a, MAX_THETA63, a, MAX_THETA63) == 1.0
    assert jaccard_estimate(np.empty(0, np.uint64), MAX_THETA63,
                            np.empty(0, np.uint64), MAX_THETA63) == 1.0


def test_jaccard_estimation_mode():
    """k=256 signatures: estimate within a few σ (σ≈sqrt(J(1-J)/k))."""
    # sets over item ids (hash rank must be independent of membership)
    ids = np.arange(60_000, dtype=np.uint64)
    h = xxh64_u64(ids, seed=1234) >> np.uint64(1)
    a_full = np.sort(np.unique(h[:48_000]))
    b_full = np.sort(np.unique(h[12_000:]))  # J = 36/60 = 0.6
    k = 256
    sa, _, ta, _ = kmv_signatures(a_full, np.array([0, len(a_full)]), k)
    sb, _, tb, _ = kmv_signatures(b_full, np.array([0, len(b_full)]), k)
    j = jaccard_estimate(sa, int(ta[0]), sb, int(tb[0]))
    assert j == pytest.approx(0.6, abs=0.1)


def test_union_merge_commutative_associative():
    """The reference's core mergeability contract."""
    parts = [_stream(300, salt=i) for i in range(4)]
    k = 128

    def merge_all(order):
        sig = np.empty(0, np.uint64)
        theta = MAX_THETA63
        for i in order:
            s, _, t, _ = kmv_signatures(parts[i], np.array([0, len(parts[i])]), k)
            sig, theta = union_merge(sig, theta, s, int(t[0]), k)
        return sig, theta

    s1, t1 = merge_all([0, 1, 2, 3])
    s2, t2 = merge_all([3, 1, 0, 2])
    assert t1 == t2 and np.array_equal(s1, s2)
    # and equals the signature of the concatenated stream
    full = np.unique(np.concatenate(parts))
    s3, _, t3, _ = kmv_signatures(full, np.array([0, len(full)]), k)
    assert t1 == int(t3[0]) and np.array_equal(s1, s3)


def test_theta_estimate_cross_impl_tolerance():
    """Estimate within 3% of true n up to 10^6 — the reference's TCK
    tolerance (tests/serde_tests/theta.rs:29-35, :74-95)."""
    k = 4096  # default lg_k=12
    for n in (1, 10, 100, 1000, 10_000, 100_000, 1_000_000):
        h = np.unique(xxh64_u64(np.arange(n, dtype=np.uint64), seed=9001) >> np.uint64(1))
        sig, _, theta, _ = kmv_signatures(h, np.array([0, len(h)]), k)
        est = estimate(np.array([len(sig)]), theta)[0]
        assert est == pytest.approx(n, rel=0.03), (n, est)


# ---------------------------------------------------------------- simhash

def test_simhash_identical_and_near():
    t1 = " ".join(f"tok{i}" for i in range(200))
    t2 = " ".join(f"tok{i}" if i % 50 else f"edit{i}" for i in range(200))
    t3 = " ".join(f"other{i}" for i in range(200))
    vals, offs = shingle_hashes([t1, t1, t2, t3], width=5, seed=CFG.seed)
    sh = simhash64(vals, offs)
    assert sh[0] == sh[1]
    d_near = hamming64(sh[:1], sh[2:3])[0]
    d_far = hamming64(sh[:1], sh[3:4])[0]
    assert d_near < d_far
    assert d_near <= 16 and d_far >= 20


def test_simhash_empty():
    vals, offs = shingle_hashes([""], width=5, seed=CFG.seed)
    assert simhash64(vals, offs)[0] == 0


# ---------------------------------------------------------------- oph/lsh

def test_oph_deterministic_and_duplicate_collision():
    s = _stream(2000)
    vals, offs = np.concatenate([s, s]), np.array([0, len(s), 2 * len(s)])
    m = oph_minhashes(vals, offs, CFG.num_perm, CFG.seed)
    assert np.array_equal(m[0], m[1])  # identical sets → identical minhashes
    bh = band_hashes(m, CFG.num_bands, CFG.band_rows, CFG.seed)
    assert np.array_equal(bh[0], bh[1])


def test_oph_lsh_recall_and_precision_proxy():
    """High-J pairs share ≥1 band; unrelated docs share none (fixed seed)."""
    ids = np.arange(30_000, dtype=np.uint64)
    h = xxh64_u64(ids, seed=1234) >> np.uint64(1)
    docs = [
        np.sort(np.unique(h[:10_000])),          # A
        np.sort(np.unique(h[500:10_000])),       # ~J 0.95 with A
        np.sort(np.unique(h[10_000:20_000])),    # unrelated C
        np.sort(np.unique(h[20_000:30_000])),    # unrelated D
    ]
    vals = np.concatenate(docs)
    offs = np.zeros(5, dtype=np.int64)
    np.cumsum([len(d) for d in docs], out=offs[1:])
    m = oph_minhashes(vals, offs, CFG.num_perm, CFG.seed)
    bh = band_hashes(m, CFG.num_bands, CFG.band_rows, CFG.seed)
    assert (bh[0] == bh[1]).sum() >= 1          # near-dup pair collides
    assert (bh[0] == bh[2]).sum() == 0          # unrelated do not
    assert (bh[2] == bh[3]).sum() == 0


def test_oph_densification_preserves_valid_and_tracks_jaccard():
    """Regression: densify must only fill EMPTY buckets, never overwrite
    valid ones, and per-position agreement rate must track J (unbiasedness)."""
    ids = np.arange(4_000, dtype=np.uint64)
    h = xxh64_u64(ids, seed=77) >> np.uint64(1)
    a = np.sort(np.unique(h[:3_000]))
    b = np.sort(np.unique(h[1_000:]))  # J = 2000/4000 = 0.5
    vals = np.concatenate([a, b])
    offs = np.array([0, len(a), len(a) + len(b)], dtype=np.int64)
    m = oph_minhashes(vals, offs, CFG.num_perm, CFG.seed)
    # valid buckets keep their own minima: recompute raw minima for doc a
    from datasketches_rust_spark.sigkit.oph import _EMPTY

    bucket = (xxh64_u64(a, CFG.seed ^ 0xB1B05EED) % np.uint64(CFG.num_perm)).astype(int)
    raw = np.full(CFG.num_perm, _EMPTY, dtype=np.uint64)
    np.minimum.at(raw, bucket, a)
    occupied = raw != _EMPTY
    assert np.array_equal(m[0][occupied], raw[occupied])
    assert not (m[0] == m[0][0]).all()  # row must not be constant
    agree = (m[0] == m[1]).mean()
    assert agree == pytest.approx(0.5, abs=0.15)


def test_oph_empty_doc_rows():
    m = oph_minhashes(np.empty(0, np.uint64), np.array([0, 0]), CFG.num_perm, CFG.seed)
    assert (m == np.uint64(0xFFFFFFFFFFFFFFFF)).all()


def test_simhash_trailing_empty_doc_regression():
    """A batch ending in empty docs must not truncate the last non-empty
    doc's segment (the old clipped-reduceat bug dropped its final hash)."""
    vals = np.array([1, 0, 1], dtype=np.uint64)
    offs = np.array([0, 3, 3], dtype=np.int64)
    sh = simhash64(vals, offs).view(np.uint64)
    assert sh[0] == 1  # bit0 majority of [1,0,1] is 2/3 -> set
    assert sh[1] == 0  # empty doc
    # same property through the real tokenizer path
    texts = [" ".join(f"tok{i}" for i in range(50)), ""]
    v2, o2 = shingle_hashes(texts, width=5, seed=CFG.seed)
    v1, o1 = shingle_hashes(texts[:1], width=5, seed=CFG.seed)
    assert simhash64(v2, o2)[0] == simhash64(v1, o1)[0]


def test_simhash_empty_between_docs():
    texts = ["alpha beta gamma delta eps zeta", "", "one two three four five six"]
    v, o = shingle_hashes(texts, width=5, seed=CFG.seed)
    sh = simhash64(v, o)
    for i, t in enumerate(texts):
        vi, oi = shingle_hashes([t], width=5, seed=CFG.seed)
        assert sh[i] == simhash64(vi, oi)[0]


def test_oph_segment_min_matches_minimum_at():
    """The lexsort+first-of-group fold must equal the np.minimum.at oracle."""
    from datasketches_rust_spark.sigkit.oph import _BUCKET_SEED_XOR, _EMPTY

    rng = np.random.default_rng(31337)
    docs = [np.unique(rng.integers(1, 1 << 62, size=n).astype(np.uint64))
            for n in (0, 1, 7, 300, 1000)]
    vals = np.concatenate(docs)
    offs = np.zeros(len(docs) + 1, dtype=np.int64)
    np.cumsum([len(d) for d in docs], out=offs[1:])
    m = oph_minhashes(vals, offs, CFG.num_perm, CFG.seed)
    # oracle: raw per-(doc,bucket) minima via minimum.at, then check every
    # occupied bucket agrees (densified buckets checked elsewhere)
    doc_ids = np.repeat(np.arange(len(docs)), np.diff(offs))
    bucket = (xxh64_u64(vals, CFG.seed ^ _BUCKET_SEED_XOR) % np.uint64(CFG.num_perm)).astype(np.int64)
    raw = np.full(len(docs) * CFG.num_perm, _EMPTY, dtype=np.uint64)
    np.minimum.at(raw, doc_ids * CFG.num_perm + bucket, vals)
    raw = raw.reshape(len(docs), CFG.num_perm)
    occ = raw != _EMPTY
    assert np.array_equal(m[occ], raw[occ])


def test_token_spans_multiple_cuts_in_one_run():
    """Adjacent all-token docs form ONE byte run with several boundary
    cuts — the vectorized split must produce one token per doc, in order
    (regression guard for the np.insert rewrite of token_spans)."""
    import numpy as np

    from datasketches_rust_spark.sigkit.tokenize import token_spans
    from datasketches_rust_spark.sigkit.xxhash import xxh64_str_list

    for docs in (["abc", "defg", "hi"], ["a", "b", "c", "d"], ["ab", "", "cd"], ["x y", "z", "w v"]):
        buf, offs = concat_docs(docs)
        starts, lengths = token_spans(buf, offs)
        toks = ["".join(chr(b) for b in buf[s : s + l]) for s, l in zip(starts, lengths)]
        expect = [t for d in docs for t in d.split()]
        assert toks == expect, (docs, toks)
        # spans must be sorted and non-overlapping
        assert all(starts[i] + lengths[i] <= starts[i + 1] for i in range(len(starts) - 1))
        # and hash identically to the per-string reference path
        from datasketches_rust_spark.sigkit.xxhash import xxh64_slices

        assert np.array_equal(
            xxh64_slices(buf, starts, lengths, 9001), xxh64_str_list(expect, 9001)
        )


def _sorted_keys(n, seed=0):
    """n distinct random 32-byte keys in ascending byte order (about half
    lead with a byte >= 0x80, and every key ends in a zero byte)."""
    rng = np.random.default_rng(seed)
    raw = rng.integers(0, 256, (n, 32), dtype=np.uint8)
    raw[:, -1] = 0  # S32 strips trailing zeros on conversion, never in compares
    keys = np.unique(raw.view("S32").ravel())
    assert len(keys) == n
    return keys


def _path_random_order(n):
    keys = _sorted_keys(n, seed=1)
    rng = np.random.default_rng(2)
    walk = keys[rng.permutation(n)]  # path visits the keys in random order
    e = rng.permutation(n - 1)
    return walk[:-1][e], walk[1:][e], keys


def _caterpillar_descending(n):
    """A spine whose keys fall along it, one leaf per spine node, the
    smallest key on the far end's leaf. Hooking NODES instead of roots
    moves the minimum one spine hop per round (n/2 rounds)."""
    keys = _sorted_keys(n, seed=3)[::-1]
    half = n // 2
    spine, leaves = keys[:half], keys[half:]
    return np.concatenate([spine[:-1], spine]), np.concatenate([spine[1:], leaves]), keys


@pytest.mark.parametrize("graph", [_path_random_order, _caterpillar_descending])
def test_union_find_rounds_logarithmic(graph):
    """One component labelled by its minimum key, in O(log n) hook rounds."""
    src, dst, keys = graph(100_000)
    nodes, comp, rounds = union_find(src, dst)
    assert np.array_equal(nodes, np.sort(keys))
    assert (comp == nodes[0]).all()
    assert rounds <= int(np.ceil(np.log2(len(keys)))), rounds


def test_union_find_unsigned_byte_order_and_degenerate_inputs():
    """S32 order is unsigned byte order (Spark's binary order, and Python's
    bytes order), self-loops and duplicate edges change nothing, and an
    empty edge set yields no nodes."""
    lo = bytes([0x10]) + bytes(31)
    hi = bytes([0x90]) + bytes(31)  # < lo under a signed-byte compare
    top = bytes([0xFF]) * 31 + bytes(1)
    alone = bytes([0x05]) * 32
    src = np.array([hi, top, top, hi, alone], dtype="S32")
    dst = np.array([top, lo, lo, hi, alone], dtype="S32")
    nodes, comp, rounds = union_find(src, dst)
    raw = [r.tobytes() for r in nodes.view(np.uint8).reshape(-1, 32)]
    assert raw == sorted([lo, hi, top])
    assert {c.tobytes() for c in comp.view(np.uint8).reshape(-1, 32)} == {lo}
    assert rounds >= 1

    empty = np.array([], dtype="S32")
    nodes, comp, rounds = union_find(empty, empty)
    assert len(nodes) == len(comp) == rounds == 0


def _bottom_k_oracle(g, h, s, n_groups, k, theta):
    """Per group (kmv, summaries, theta) by brute force: np.unique of the
    inserted hashes, summaries summed per hash."""
    out = []
    for i in range(n_groups):
        m = (g == i) & (h != 0) & (h < theta[i])
        u, inv = np.unique(h[m], return_inverse=True)
        sums = np.bincount(inv, weights=s[m], minlength=len(u))
        t = int(u[k]) if len(u) > k else int(theta[i])
        out.append((u[:k].tolist(), sums[:k].tolist(), t))
    return out


@pytest.mark.parametrize("k", [1, 8, 64])
@pytest.mark.parametrize("p", [1.0, 0.3])
def test_grouped_bottom_k_matches_brute_force(k, p):
    """Chunks that straddle compactions, zero hashes, an initial theta
    below MAX (p < 1), several groups and a lowered group theta: the state
    equals np.unique's bottom k of every group, summaries summed."""
    rng = np.random.default_rng(k * 10 + int(p * 10))
    n_groups, n = 5, 6000
    init = MAX_THETA63 if p >= 1.0 else int(p * MAX_THETA63)
    # group 0 repeats few distinct hashes, group 4 sees only zero hashes
    g = rng.integers(0, n_groups, n)
    h = rng.integers(1, MAX_THETA63, n, dtype=np.int64)
    h[g == 0] = rng.integers(1, 40, int((g == 0).sum()))
    h[g == 4] = 0
    h[rng.random(n) < 0.05] = 0
    s = rng.integers(1, 50, n).astype(np.float64)
    theta = np.full(n_groups, init, np.int64)
    theta[1] = min(init, 1 << 61)
    for summary in (False, True):
        kern = GroupedBottomK(k, init, summary)
        kern.lower_theta(np.array([1, 0]), np.array([1 << 61, MAX_THETA63]))
        cuts = np.sort(rng.choice(np.arange(1, n), 9, replace=False))
        for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, n]):
            kern.update(g[lo:hi], h[lo:hi], s[lo:hi] if summary else None)
        offs, kmv, sums, th = kern.sketches()
        want = _bottom_k_oracle(g, h, s, n_groups, k, theta)
        for i, (wk, ws, wt) in enumerate(want):
            assert kmv[offs[i]:offs[i + 1]].tolist() == wk, (summary, i)
            assert th[i] == wt, (summary, i)
            if summary:
                assert sums[offs[i]:offs[i + 1]].tolist() == ws
            else:
                assert sums is None


def test_grouped_bottom_k_no_rows_and_registered_groups():
    """No hashes at all: no group, or registered groups keep their theta
    and an empty entry list."""
    offs, kmv, sums, th = GroupedBottomK(4).sketches()
    assert offs.tolist() == [0] and len(kmv) == 0 and sums is None and len(th) == 0
    kern = GroupedBottomK(4, 1 << 40, summary=True)
    kern.update(np.array([0, 2]), np.array([0, 1 << 50]), np.array([1.0, 2.0]))
    offs, kmv, sums, th = kern.sketches()
    assert offs.tolist() == [0, 0, 0, 0] and th.tolist() == [1 << 40] * 3
    assert len(kmv) == len(sums) == 0

