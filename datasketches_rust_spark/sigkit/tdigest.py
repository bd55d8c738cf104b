"""Mergeable t-digest kernel (Dunning/Ertl merging variant).

Mirrors the reference's TDigestMut contract
(`/root/reference/datasketches/src/tdigest/sketch.rs`):
- update buffers values; compression merges sorted centroids under a
  scale-function cap (sketch.rs:746-800, scale_function mod :1383);
- merge(&other) concatenates centroid lists then compresses
  (sketch.rs:235-259);
- NaN/inf inputs are ignored (sketch.rs:174-186);
- quantile(rank) interpolates between centroid means (sketch.rs:391).

Scale function: k1(q) = (delta / 2π) * asin(2q - 1) — centroid c may
absorb weight while k(q_right) - k(q_left) <= 1, giving O(delta)
centroids with quantile error concentrated at the tails.

The only Python-level loop is over *centroids* during a compress
(O(delta) per sketch, never per value); raw values are folded in with
numpy sorts.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


def _k1(q: np.ndarray, delta: float) -> np.ndarray:
    return (delta / (2 * np.pi)) * np.arcsin(2 * q - 1)


def _compress(means: np.ndarray, weights: np.ndarray, delta: float):
    """One merge pass over sorted centroids under the k1 cap."""
    if len(means) == 0:
        return means, weights
    order = np.argsort(means, kind="stable")
    means, weights = means[order], weights[order]
    total = weights.sum()
    out_m, out_w = [], []
    cur_m, cur_w = float(means[0]), float(weights[0])
    w_before = 0.0
    k_lo = _k1(np.array([0.0]), delta)[0]
    for i in range(1, len(means)):
        q_new = (w_before + cur_w + weights[i]) / total
        if _k1(np.array([min(q_new, 1.0)]), delta)[0] - k_lo <= 1.0:
            # absorb: weighted mean update
            cur_m += (means[i] - cur_m) * weights[i] / (cur_w + weights[i])
            cur_w += weights[i]
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            w_before += cur_w
            k_lo = _k1(np.array([w_before / total]), delta)[0]
            cur_m, cur_w = float(means[i]), float(weights[i])
    out_m.append(cur_m)
    out_w.append(cur_w)
    return np.asarray(out_m, dtype=np.float64), np.asarray(out_w, dtype=np.float64)


@dataclass
class TDigest:
    delta: float = 200.0
    means: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=np.float64))
    weights: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=np.float64))

    def update_batch(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[np.isfinite(v)]  # NaN/inf ignored (sketch.rs:174-186)
        if len(v) == 0:
            return
        self.means = np.concatenate([self.means, v])
        self.weights = np.concatenate([self.weights, np.ones(len(v))])
        if len(self.means) > 8 * self.delta:
            self.compress()

    def merge(self, other: "TDigest") -> None:
        self.means = np.concatenate([self.means, other.means])
        self.weights = np.concatenate([self.weights, other.weights])
        self.compress()

    def compress(self) -> None:
        self.means, self.weights = _compress(self.means, self.weights, self.delta)

    @property
    def total_weight(self) -> float:
        return float(self.weights.sum())

    def quantile(self, q: float) -> float:
        """Interpolated quantile (sketch.rs:391 semantics)."""
        self.compress()
        if len(self.means) == 0:
            return float("nan")
        if len(self.means) == 1:
            return float(self.means[0])
        w = self.weights
        total = w.sum()
        target = q * total
        # centroid "positions": cumulative weight at centroid midpoints
        cum = np.cumsum(w) - w / 2.0
        if target <= cum[0]:
            return float(self.means[0])
        if target >= cum[-1]:
            return float(self.means[-1])
        i = int(np.searchsorted(cum, target) - 1)
        frac = (target - cum[i]) / (cum[i + 1] - cum[i])
        return float(self.means[i] + frac * (self.means[i + 1] - self.means[i]))

    def rank(self, value: float) -> float:
        """Fraction of weight <= value (sketch.rs:357 semantics, approx)."""
        self.compress()
        total = self.total_weight
        if total == 0:
            return float("nan")
        cum = np.cumsum(self.weights) - self.weights / 2.0
        r = float(np.interp(value, self.means, cum, left=0.0, right=total))
        return r / total

    def cdf(self, split_points: np.ndarray) -> np.ndarray:
        """rank() at each split point (tdigest/sketch.rs:309 semantics):
        monotone array of P(X <= s) estimates, one per split point."""
        self.compress()
        total = self.total_weight
        sp = np.asarray(split_points, dtype=np.float64)
        if total == 0:
            return np.full(len(sp), np.nan)
        cum = np.cumsum(self.weights) - self.weights / 2.0
        return np.interp(sp, self.means, cum, left=0.0, right=total) / total

    def pmf(self, split_points: np.ndarray) -> np.ndarray:
        """Probability mass between consecutive split points
        (tdigest/sketch.rs:333): len(split_points)+1 bin masses,
        bins (-inf, s0], (s0, s1], ..., (s_last, +inf); sums to 1."""
        c = self.cdf(split_points)
        return np.diff(np.concatenate([[0.0], c, [1.0]]))
