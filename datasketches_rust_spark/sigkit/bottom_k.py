"""Grouped bottom-(k+1) state: the per-partition half of the theta and
tuple sketch aggregates (functions/sketch_aggs.py), Spark-free.

One object holds every group of a partition. Rows arrive as numpy arrays
(group index, 63-bit hash[, summary]); a hash is inserted iff it is
nonzero and below its group's theta, the reference's insert screen
(common/hash_table.rs:160-163). Inserted rows wait in one buffer. Once a
group has more than 2(k+1) buffered rows, its rows are compacted: one
sort over all compacted groups at once, equal hashes made one (their
summaries summed, the AddAssign update of tuple/policy.rs:60-121), then
cut to the k+1 smallest. From then on a hash at or above the group's
(k+1)-th smallest is dropped on arrival: it can be neither among the k
smallest nor the (k+1)-th that sets theta (the trim of
hash_table.rs:388-423). So the state of a group is O(k), whatever its
row count, and the result is the exact KMV of every row it was given.
"""

from __future__ import annotations

import numpy as np

from .kmv import MAX_THETA63


def _group_rank(g: np.ndarray) -> np.ndarray:
    """Position of each row within its run of equal ``g`` (``g`` sorted)."""
    starts = np.flatnonzero(np.r_[True, g[1:] != g[:-1]])
    return np.arange(len(g)) - np.repeat(starts, np.diff(np.r_[starts, len(g)]))


class GroupedBottomK:
    """The k+1 smallest distinct inserted hashes of each group.

    ``theta`` is every group's initial theta (a build's p·MAX);
    ``lower_theta`` lowers a group's theta to that of a sketch a merge
    folds in, and hashes at or above it are dropped. With ``summary`` each
    row carries a float summary, summed per distinct hash. Group indices
    are dense: a group exists once an index at or above it was seen."""

    def __init__(self, k: int, theta: int = MAX_THETA63, summary: bool = False):
        self.k, self.init_theta, self.summary = k, theta, summary
        self.theta = np.empty(0, np.int64)
        self._cut = np.empty(0, np.int64)  # a hash >= cut is dropped on arrival
        self._n = np.empty(0, np.int64)  # buffered rows per group
        self._buf: list[tuple[np.ndarray, ...]] = []  # (group, hash[, summary])

    def _grow(self, group: np.ndarray) -> None:
        extra = (int(group.max()) + 1 if len(group) else 0) - len(self.theta)
        if extra > 0:
            full = np.full(extra, self.init_theta, np.int64)
            self.theta = np.concatenate([self.theta, full])
            self._cut = np.concatenate([self._cut, full])
            self._n = np.concatenate([self._n, np.zeros(extra, np.int64)])

    def lower_theta(self, group: np.ndarray, theta: np.ndarray) -> None:
        """Group ``group[i]``'s theta becomes at most ``theta[i]``."""
        self._grow(group)
        np.minimum.at(self.theta, group, theta)
        np.minimum(self._cut, self.theta, out=self._cut)

    def update(self, group: np.ndarray, h: np.ndarray, s: np.ndarray | None = None) -> None:
        """Insert row i's hash ``h[i]`` (and summary ``s[i]``) into group
        ``group[i]``; a zero hash inserts nothing."""
        self._grow(group)
        keep = (h != 0) & (h < self._cut[group])
        rows = (group[keep], h[keep]) + ((s[keep],) if self.summary else ())
        if not len(rows[0]):
            return
        self._buf.append(rows)
        self._n += np.bincount(rows[0], minlength=len(self._n))
        over = self._n > 2 * (self.k + 1)
        if over.any():
            self._compact(over)

    def _compact(self, groups: np.ndarray) -> None:
        """Cut the buffered rows of the groups where ``groups`` is set to
        their k+1 smallest distinct hashes below theta, sorted."""
        if not self._buf:
            return
        cols = [np.concatenate(c) for c in zip(*self._buf)]
        sel = groups[cols[0]]
        g, h, *s = (c[sel] for c in cols)
        order = np.lexsort((h, g))
        g, h = g[order], h[order]
        new = np.ones(len(h), bool)
        new[1:] = (g[1:] != g[:-1]) | (h[1:] != h[:-1])
        starts = np.flatnonzero(new)
        g, h = g[starts], h[starts]
        s = [np.add.reduceat(s[0][order], starts)] if s else []
        below = h < self.theta[g]
        g, h, s = g[below], h[below], [c[below] for c in s]
        rank = _group_rank(g)
        full = rank == self.k
        self._cut[g[full]] = h[full]
        keep = rank <= self.k
        self._buf = [
            tuple(c[~sel] for c in cols),
            tuple(c[keep] for c in (g, h, *s)),
        ]
        self._n = np.bincount(
            np.concatenate([b[0] for b in self._buf]), minlength=len(self._n)
        )

    def sketches(self) -> tuple[np.ndarray, np.ndarray, np.ndarray | None, np.ndarray]:
        """(offsets, kmv, summaries, theta) with group i's sorted k smallest
        hashes at ``kmv[offsets[i]:offsets[i+1]]``: theta is the (k+1)-th
        smallest hash if the group has one, else the group's theta;
        summaries is None without ``summary``."""
        self._compact(self._n > 0)
        n = len(self.theta)
        g, h, *s = self._buf[-1] if self._buf else (np.empty(0, np.int64),) * 3
        rank = _group_rank(g)
        theta = self.theta.copy()
        theta[g[rank == self.k]] = h[rank == self.k]
        keep = rank < self.k
        offs = np.zeros(n + 1, np.int64)
        np.cumsum(np.bincount(g[keep], minlength=n), out=offs[1:])
        return offs, h[keep], s[0][keep] if self.summary else None, theta
