"""Capped same-bucket pairs over one table of bucket-membership rows.

Rows are (bucket key..., member id); members sharing every key column are
candidate pairs. A bucket of m members emits m² pairs, so a bucket with
more than ``cap`` members emits a star to its minimum id instead — O(m)
pairs, and the star still spans the bucket, so the connectivity that
connected components consumes is kept. This is the reference's "bound the
damage" move: stride probing (common/hash_table.rs:425-427) and k-truncated
unions (common/union.rs:130-135).

One ``pc.sort_indices`` over (key..., id) puts each bucket in one run with
its ids ascending. Arrow orders binary and string values as unsigned bytes,
as Spark does, so a run's first id is the bucket minimum Spark's ``min``
picks. Run boundaries and pair positions are numpy; the ids themselves only
ever move by Arrow ``take`` — never through Python ``bytes`` or numpy
``S<w>``, which strip trailing NUL bytes.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def _changed(col: pa.ChunkedArray) -> np.ndarray:
    """Per row of a sorted column: does it differ from the row before?"""
    out = np.ones(len(col), dtype=bool)
    if len(col) > 1:
        ne = pc.not_equal(col.slice(1), col.slice(0, len(col) - 1))
        out[1:] = ne.to_numpy()
    return out


def capped_pairs(table: pa.Table, key_cols: list[str], id_col: str, cap: int) -> pa.Table:
    """(id_a, id_b), id_a < id_b: every pair in a bucket of ≤ ``cap`` rows,
    and (bucket min, id) for every other member of a bigger bucket.

    A pair sharing several buckets repeats. A repeated (key, id) row counts
    toward its bucket's size but pairs with nothing. Rows with a null key or
    id are dropped.
    """
    cols = [*key_cols, id_col]
    table = table.select(cols).drop_null()
    order = pc.sort_indices(table, sort_keys=[(c, "ascending") for c in cols])
    ids = table.column(id_col).take(order)
    n = len(ids)
    new_run = np.logical_or.reduce([_changed(table.column(c).take(order)) for c in key_cols])
    run_start = np.flatnonzero(new_run)
    run_len = np.diff(np.append(run_start, n))
    pos = np.arange(n)
    start = np.repeat(run_start, run_len)
    small = np.repeat(run_len <= cap, run_len)

    # small runs: each row pairs with every later row of its run
    cnt = np.where(small, start + np.repeat(run_len, run_len) - pos - 1, 0)
    a_all = np.repeat(pos, cnt)
    first = np.repeat(np.cumsum(cnt) - cnt, cnt)
    b_all = a_all + 1 + np.arange(len(a_all)) - first
    # big runs: a star from the run's first (minimum) id
    b_star = np.flatnonzero(~small & (pos != start))
    a = np.concatenate([a_all, start[b_star]])
    b = np.concatenate([b_all, b_star])

    # equal ids are adjacent within a run: number the (key, id) groups
    group = np.cumsum(new_run | _changed(ids))
    keep = group[a] != group[b]
    return pa.table({"id_a": ids.take(a[keep]), "id_b": ids.take(b[keep])})
