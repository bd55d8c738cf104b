"""Connected components of an edge list in one process: vectorized
hook-and-compress union-find (Shiloach–Vishkin style) over dense ids.

Node keys are fixed-width byte strings (numpy ``S<w>``, e.g. the 32-byte
binary content_sha). ``np.unique`` maps them to dense ids in byte order —
numpy compares ``S`` values as unsigned bytes, the same order as Spark's
binary comparison — so the minimum id of a component IS its minimum key,
and every component is labelled by its minimum key.

Each round hooks every tree ROOT touched by an edge onto the smaller of the
edge's two roots (``np.minimum.at`` over the root ids), then pointer-jumps
``f = f[f]`` until every node points straight at its root. Hooking roots
rather than nodes is what bounds the rounds by O(log n) on any graph: a
node-hooking variant is min-label propagation and needs O(diameter) rounds
(a 1M-node path did not finish in 10 minutes). Pointers only ever move to
smaller ids, so no cycle can form and a root is always its tree's minimum.
"""

from __future__ import annotations

import numpy as np


def union_find(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray, int]:
    """Edges (src[i], dst[i]) → (node, component, rounds).

    ``node`` holds every key on a non-self-loop edge, sorted ascending;
    ``component`` the minimum key of its component; ``rounds`` the
    hook-and-compress rounds run. Duplicate edges and either orientation
    are fine; self-loops are dropped (a node that only has a self-loop is
    not emitted — it is its own singleton component).
    """
    keep = src != dst
    src, dst = src[keep], dst[keep]
    n = len(src)
    keys, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    # int32 halves the gather/scatter traffic; dense ids < 2^31 always
    # hold for a node set that fits in one task
    inv = inv.astype(np.int32, copy=False)
    u, v = inv[:n], inv[n:]
    f = np.arange(len(keys), dtype=np.int32)
    rounds = 0
    while True:
        fu, fv = f[u], f[v]
        live = fu != fv
        if not live.any():
            break
        rounds += 1
        # an edge inside one tree stays inside one tree: drop it for good
        u, v, fu, fv = u[live], v[live], fu[live], fv[live]
        m = np.minimum(fu, fv)
        np.minimum.at(f, fu, m)
        np.minimum.at(f, fv, m)
        while True:
            g = f[f]
            if np.array_equal(g, f):
                break
            f = g
    return keys, keys[f], rounds
