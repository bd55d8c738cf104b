"""Frequent-items (Misra-Gries) sketch kernel, batch-vectorized.

Reimplements the reference's FrequentItemsSketch semantics
(`/root/reference/datasketches/src/frequencies/sketch.rs:96-132`):

- bounded map of at most ``max_map_size`` (M) active items;
- overflow purge subtracts the *median* of the current counts and drops
  non-positive entries, accumulating the subtracted total in ``offset``
  (`reverse_purge_item_hash_map.rs:141-158`);
- merge = itemwise count addition + offset addition (`sketch.rs:358-371`);
- estimates: lower bound = count, upper bound = count + offset; error
  contract (UB - LB) <= W * 3.5 / M (`sketch.rs:43`, EPSILON_FACTOR).

Batch-oriented: a whole batch is aggregated exactly with ``np.unique``
first, then merged into the bounded state — the per-item update loop of
the reference collapses into two vectorized passes.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

EPSILON_FACTOR = 3.5  # frequencies/sketch.rs:43
_MAX_SAMPLE = 1024


@dataclass
class MisraGries:
    max_map_size: int
    items: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=object))
    counts: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=np.int64))
    offset: int = 0
    stream_weight: int = 0

    def update_batch(self, items: np.ndarray, weights: np.ndarray | None = None) -> None:
        items = np.asarray(items, dtype=object)
        if weights is None:
            weights = np.ones(len(items), dtype=np.int64)
        uniq, inv = np.unique(items, return_inverse=True)
        sums = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(sums, inv, np.asarray(weights, dtype=np.int64))
        self.stream_weight += int(np.asarray(weights, dtype=np.int64).sum())
        self._merge_counts(uniq, sums)

    def merge(self, other: "MisraGries") -> None:
        """sketch.rs:358-371: itemwise add, offsets add."""
        self.stream_weight += other.stream_weight
        self.offset += other.offset
        self._merge_counts(other.items, other.counts)

    def _merge_counts(self, items: np.ndarray, counts: np.ndarray) -> None:
        all_items = np.concatenate([self.items, items])
        all_counts = np.concatenate([self.counts, counts])
        uniq, inv = np.unique(all_items, return_inverse=True)
        sums = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(sums, inv, all_counts)
        self.items, self.counts = uniq, sums
        self._purge_if_needed()

    def _purge_if_needed(self) -> None:
        while len(self.items) > self.max_map_size:
            sample = self.counts[: min(_MAX_SAMPLE, len(self.counts))]
            median = int(np.partition(sample, len(sample) // 2)[len(sample) // 2])
            median = max(median, 1)
            self.counts = self.counts - median
            keep = self.counts > 0
            self.items, self.counts = self.items[keep], self.counts[keep]
            self.offset += median

    # ---- queries (sketch.rs:394-430) ----

    def lower_bound(self) -> dict:
        return dict(zip(self.items.tolist(), self.counts.tolist()))

    def maximum_error(self) -> int:
        return self.offset

    def above_threshold(
        self, threshold: float | None = None, no_false_negatives: bool = True
    ) -> np.ndarray:
        """Mask of the items the threshold query reports,
        frequencies/sketch.rs:421-436: the threshold (default: the offset)
        is clamped to at least the current offset (maximum_error), then
        NoFalseNegatives keeps UB > t, NoFalsePositives keeps LB > t —
        strict inequalities, as the reference."""
        t = self.offset if threshold is None else max(threshold, self.offset)
        bound = self.counts + (self.offset if no_false_negatives else 0)
        return bound > t

    def frequent_items(self, threshold: int, no_false_negatives: bool = True) -> list:
        """(item, upper bound) of the items ``above_threshold`` keeps,
        heaviest first."""
        keep = self.above_threshold(threshold, no_false_negatives)
        order = np.argsort(-self.counts[keep], kind="stable")
        its = self.items[keep][order]
        cts = (self.counts[keep] + self.offset)[order]  # upper-bound estimate
        return list(zip(its.tolist(), cts.tolist()))
