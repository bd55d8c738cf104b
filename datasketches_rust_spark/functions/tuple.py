"""Tuple sketch: theta-KMV entries carrying an additive summary column.

Re-expresses the reference's TupleSketch with the DefaultUpdatePolicy /
DefaultUnionPolicy pair (`tuple/policy.rs:60-121`: update is
``summary += value``, union combine is ``summary += other``) as a grouped
Spark aggregate. The sketch column is a struct

    (kmv array<long>, summaries array<double>, theta long, retained int)

with ``summaries[i]`` the additive summary of the key hashed to ``kmv[i]``.

Batch-mode equivalence to the reference's streaming update: theta only
ever decreases, so a key whose hash is below the FINAL theta was below
theta at every intermediate state — its summary therefore accumulated
every one of its updates, which is exactly ``groupBy(key).sum(value)``
followed by trim-to-k (the same argument that makes the KMV trim exact,
common/hash_table.rs:388-423). Keys trimmed away lose their summaries, as
in the reference.

The grouped build and union are the theta sketch's (the KMV family of
functions/sketch_aggs.py, sigkit.bottom_k) with the summary carried beside
each hash and summed per distinct hash in the partials and in the merge.

Column union (`tuple/union.rs:68-128`): min-theta screen on both sides,
AddAssign summaries of keys present in both, k-truncate. Implemented with
``map_zip_with`` over (hash -> summary) maps — keys union, values add.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .sketch_aggs import kmv_merge, kmv_partials
from .theta import _hashed, _pack, _truncate, theta_estimate, theta_jaccard


def tuple_sketch_agg(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    value_col: str,
    k: int = 4096,
) -> DataFrame:
    """groupBy(group_cols) -> tuple sketch of (distinct key, sum(value)).

    ``theta_sketch_agg``'s plan, with the values of each key hash summed
    (the AddAssign update policy). A row whose key or value is NULL
    inserts nothing, but its group stays; a NULL group key is its own
    group.
    """
    rows = _hashed(df, group_cols, key_col, value_col)
    return kmv_merge(kmv_partials(rows, group_cols, k, True), group_cols, k, True)


def tuple_merge_agg(
    df: DataFrame,
    group_cols: list[str],
    sketch_col: str = "sketch",
    k: int = 4096,
) -> DataFrame:
    """groupBy(group_cols) → union of the N pre-built tuple-sketch structs
    in each group with the AddAssign combine policy — the reference's
    union accumulator (tuple/union.rs:68-128, one ``update`` per input
    sketch) as a grouped aggregate, for re-aggregating stored sketches
    without a crossJoin fold of pairwise ``tuple_union`` columns.

    ``theta_merge_agg``'s plan, with the summaries of keys shared across
    sketches summed — the same k smallest surviving keys as the
    reference's screen-then-combine-then-truncate order, since the screen
    depends on the hash alone. As in ``theta_merge_agg`` (see its
    docstring), the min theta runs over ALL rows, retained==0 included,
    so all-empty groups survive.
    """
    partials = kmv_partials(df, group_cols, k, True, sketch_col=sketch_col)
    return kmv_merge(partials, group_cols, k, True)


def _entries(sk: Column) -> Column:
    """The sketch's (key=hash, value=summary) entries."""
    return F.zip_with(
        sk["kmv"], sk["summaries"], lambda h, s: F.struct(h.alias("key"), s.alias("value"))
    )


def _entries_map(sk: Column, theta: Column) -> Column:
    """(hash -> summary) map of entries surviving the given theta."""
    return F.map_from_entries(F.filter(_entries(sk), lambda e: e["key"] < theta))


def _pack_entries(m: Column, theta: Column, k: int | None = None) -> Column:
    """(hash -> summary) map + theta → sorted tuple-sketch struct."""
    e = F.array_sort(F.map_entries(m))
    if k is not None:
        e, theta = _truncate(e, k, theta, summary=True)
    return _pack(e, theta, summary=True)


def tuple_union(a: Column, b: Column, k: int = 4096) -> Column:
    """Union with the AddAssign combine policy (tuple/union.rs:68-128):
    min-theta screen, summaries of shared keys add, k-truncate."""
    theta = F.least(a["theta"], b["theta"])
    merged = F.map_zip_with(
        _entries_map(a, theta),
        _entries_map(b, theta),
        lambda _k, va, vb: F.coalesce(va, F.lit(0.0)) + F.coalesce(vb, F.lit(0.0)),
    )
    return _pack_entries(merged, theta, k)


def tuple_intersection(a: Column, b: Column) -> Column:
    """Intersection under min-theta: shared keys only, summaries combined
    with the AddAssign policy (tuple/intersection.rs:94-160 with the
    SumPolicy combine of its doctest). Retained <= min(|a|, |b|), so no
    k-truncation is ever needed — exactly the reference operator."""
    theta = F.least(a["theta"], b["theta"])
    merged = F.map_filter(
        F.map_zip_with(
            _entries_map(a, theta),
            _entries_map(b, theta),
            lambda _k, va, vb: F.when(va.isNotNull() & vb.isNotNull(), va + vb),
        ),
        lambda _k, v: v.isNotNull(),
    )
    return _pack_entries(merged, theta)


def tuple_a_not_b(a: Column, b: Column) -> Column:
    """A \\ B below combined theta, keeping A's summaries; B's summaries
    are ignored — B acts as a key-only view (tuple/a_not_b.rs:76-105)."""
    theta = F.least(a["theta"], b["theta"])
    merged = F.map_filter(
        F.map_zip_with(
            _entries_map(a, theta),
            _entries_map(b, theta),
            lambda _k, va, vb: F.when(vb.isNull(), va),
        ),
        lambda _k, v: v.isNotNull(),
    )
    return _pack_entries(merged, theta)


# Summaries never enter the key-count estimate or the key-set Jaccard
# (tuple/jaccard_similarity.rs:75-101 delegates to the key-only
# JaccardSimilarityOperator), and the tuple struct shares the theta
# struct's kmv/theta fields, so both are the theta functions.
tuple_estimate = theta_estimate
tuple_jaccard = theta_jaccard


def tuple_summary_sum(sketch: Column, scaled: bool = True) -> Column:
    """Sum of summaries over retained entries; with ``scaled`` the sum is
    divided by theta fraction — the unbiased total-sum estimator (exact in
    exact mode, where theta == MAX and the scale is 1)."""
    s = F.aggregate(sketch["summaries"], F.lit(0.0), lambda acc, x: acc + x)
    if not scaled:
        return s
    return s / (sketch["theta"].cast("double") / F.lit(float(1 << 63)))
