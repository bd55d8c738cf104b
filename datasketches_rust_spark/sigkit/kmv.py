"""KMV / theta-sketch kernels over sorted 63-bit hash arrays.

A signature is the reference's *ordered compact theta sketch* re-expressed
as a plain sorted array: the k smallest distinct 63-bit hashes of a stream,
plus theta (exclusive upper bound on retained hashes).

Semantics cited from /root/reference/datasketches/src/thetafamily/:
- build/trim-to-k: ``common/hash_table.rs:388-423`` (rebuild keeps the k
  smallest via quickselect and sets theta to the (k+1)-th smallest);
- estimate = retained / (theta / 2^63): ``theta/sketch.rs:143-150``,
  ``MAX_THETA = i64::MAX`` at ``common/constants.rs:21``;
- union: min-theta + k-truncation ``common/union.rs:64-135``;
- intersection: ``common/intersection.rs:53-226``;
- A-not-B ordered merge-scan: ``common/a_not_b.rs:104-126``;
- Jaccard: union sized to |A|+|B|, J = |A∩B∩U| / |U|,
  ``common/jaccard_similarity.rs:227-332``.

All kernels are numpy array ops; batch loops run over pairs of signatures
(each op vectorized over signature length), never over hash values.
"""

from __future__ import annotations

import numpy as np

MAX_THETA63 = (1 << 63) - 1  # i64::MAX, thetafamily/common/constants.rs:21


def kmv_signatures(
    values: np.ndarray, offsets: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Bottom-k per segment of (sorted-distinct values, offsets).

    Returns (sig_values, sig_offsets, theta63 int64 per doc, n_distinct
    int64 per doc). theta is the (k+1)-th smallest hash when the doc has
    more than k distinct hashes, else MAX_THETA63 (exact mode) — the
    ``rebuild()`` contract (common/hash_table.rs:388-401).
    """
    offsets = np.asarray(offsets, dtype=np.int64)
    counts = np.diff(offsets)
    keep = np.minimum(counts, k)
    theta = np.full(len(counts), MAX_THETA63, dtype=np.int64)
    over = counts > k
    theta[over] = values[offsets[:-1][over] + k].astype(np.int64)

    sig_offsets = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(keep, out=sig_offsets[1:])
    total = int(sig_offsets[-1])
    idx = (
        np.arange(total, dtype=np.int64)
        - np.repeat(sig_offsets[:-1], keep)
        + np.repeat(offsets[:-1], keep)
    )
    return values[idx], sig_offsets, theta, counts.astype(np.int64)


def estimate(retained: np.ndarray, theta63: np.ndarray) -> np.ndarray:
    """retained / (theta/2^63) — theta/sketch.rs:143-150. Vectorized."""
    theta_frac = np.asarray(theta63, dtype=np.float64) / float(1 << 63)
    return np.asarray(retained, dtype=np.float64) / theta_frac


def _ceil_pow2(x: int) -> int:
    return 1 if x <= 1 else 1 << (x - 1).bit_length()


def union_merge(
    a: np.ndarray, theta_a: int, b: np.ndarray, theta_b: int, k: int
) -> tuple[np.ndarray, int]:
    """Union of two sorted signatures under min-theta, truncated to k.

    Mirrors UnionState::update + to_compact_parts (common/union.rs:64-135):
    theta := min(theta_a, theta_b); entries >= theta dropped; if more than k
    remain, keep k smallest and set theta := (k+1)-th smallest.
    """
    theta = min(int(theta_a), int(theta_b))
    u = np.union1d(a, b)
    u = u[u < np.uint64(theta)]
    if len(u) > k:
        theta = int(u[k])
        u = u[:k]
    return u, theta


def intersect_merge(
    a: np.ndarray, theta_a: int, b: np.ndarray, theta_b: int
) -> tuple[np.ndarray, int]:
    """Intersection under min-theta (common/intersection.rs:53-226)."""
    theta = min(int(theta_a), int(theta_b))
    i = np.intersect1d(a, b, assume_unique=True)
    return i[i < np.uint64(theta)], theta


def a_not_b(
    a: np.ndarray, theta_a: int, b: np.ndarray, theta_b: int
) -> tuple[np.ndarray, int]:
    """A \\ B below combined theta (common/a_not_b.rs:58-168)."""
    theta = min(int(theta_a), int(theta_b))
    d = np.setdiff1d(a, b, assume_unique=True)
    return d[d < np.uint64(theta)], theta


def jaccard_estimate(
    a: np.ndarray, theta_a: int, b: np.ndarray, theta_b: int
) -> float:
    """J(A,B) over k-min signatures, reference semantics.

    Union capacity is sized to the next power of two of |a|+|b|
    (jaccard_similarity.rs:241-252), so the estimate is *exact* whenever
    both inputs are exact-mode sketches. Two empty sets → 1.0 (the
    identical-sets shortcut, jaccard_similarity.rs:323-332).
    """
    if len(a) == 0 and len(b) == 0:
        return 1.0
    k_union = _ceil_pow2(len(a) + len(b))
    u, theta_u = union_merge(a, theta_a, b, theta_b, k_union)
    if len(u) == 0:
        return 1.0
    i = np.intersect1d(a, b, assume_unique=True)
    i = i[i < np.uint64(theta_u)]
    return float(len(i)) / float(len(u))


def jaccard_bounds(
    a: np.ndarray, theta_a: int, b: np.ndarray, theta_b: int, num_std_devs: float = 2.0
) -> tuple[float, float, float]:
    """(lower, estimate, upper) for J(A,B) — the reference's
    JaccardSimilarity struct (jaccard_similarity.rs:46-111, NUM_STD_DEVS=2):
    proportion bounds on |A∩B| successes in |U| trials with the
    sampling-probability z adjustment; exact mode collapses the triple.

    Edge branches mirror JaccardSimilarityOperator::compute
    (jaccard_similarity.rs:240-258): never-updated pairs collapse exactly,
    and identical retained sets + thetas short-circuit to exact (1,1,1)
    even in estimation mode (identical_sets, :322-334). "Never-updated" is
    proxied as retained == 0 and theta == MAX (no empty flag is carried);
    an updated estimation-mode sketch retaining 0 entries falls through to
    the (0, 0.5, 1) empty-union branch, as in the reference."""
    from .binomial_bounds import (
        _sampling_adjuster,
        approximate_lower_bound_on_p,
        approximate_upper_bound_on_p,
    )

    never_a = len(a) == 0 and theta_a == MAX_THETA63
    never_b = len(b) == 0 and theta_b == MAX_THETA63
    if never_a and never_b:
        return (1.0, 1.0, 1.0)
    if never_a or never_b:
        return (0.0, 0.0, 0.0)
    k_union = _ceil_pow2(len(a) + len(b))
    u, theta_u = union_merge(a, theta_a, b, theta_b, k_union)
    n_u = len(u)
    if n_u == 0:
        return (0.0, 0.5, 1.0)
    if theta_a == theta_b and len(a) == len(b) and np.array_equal(a, b):
        return (1.0, 1.0, 1.0)  # identical_sets shortcut
    i = np.intersect1d(a, b, assume_unique=True)
    n_i = int(len(i[i < np.uint64(theta_u)]))
    # sampling probability divides by MAX_THETA (jaccard_similarity.rs:85)
    # so exact-mode sketches give p == 1.0 exactly and collapse the triple
    p = theta_u / float(MAX_THETA63)
    est = n_i / n_u
    if p >= 1.0:
        return (est, est, est)
    z = num_std_devs * _sampling_adjuster(p)
    return (
        approximate_lower_bound_on_p(n_u, n_i, z),
        est,
        approximate_upper_bound_on_p(n_u, n_i, z),
    )
