"""Bounded-memory sketch aggregates: partials, then one merge of
stored-sketch rows.

Each sketch family has one stored-row schema:

- t-digest (sigkit.tdigest, TDigestMut semantics, tdigest/sketch.rs):
  ``(group..., means array<double>, weights array<double>)``;
- Misra-Gries (sigkit.frequencies, FrequentItemsSketch semantics,
  frequencies/sketch.rs): ``(group..., items array<T>, counts array<long>,
  offset long, weight long)``, ``T`` the item column's native type;
- theta and tuple KMV (sigkit.bottom_k; functions/theta.py and
  functions/tuple.py hold the public aggregates): ``(group..., sketch
  struct<kmv array<long>[, summaries array<double>], theta long, retained
  int>)``.

The partials (``mapInArrow``, no shuffle) cut each partition's rows into
chunks of ``_CHUNK_ROWS``, group each chunk with ``pa.Table.group_by`` and
fold it into the partition's state, which emits one stored row per key.
The merge (``groupBy(...).applyInArrow``, a shuffle of sketches, not raw
rows) folds a group's stored rows with the sketch's commutative merge and
finishes either as the query (quantile columns, threshold rows) or as one
stored row again. So ``tdigest_agg`` is ``tdigest_merge_agg`` over the
partials, ``tdigest_sketch_agg`` is their merge-to-state, and the
Misra-Gries and KMV functions compose the same way. Shuffle volume is
O(groups × sketch size), independent of the input rows.

A NULL group key is a group of its own, as in Spark's ``groupBy``; rows
with a NULL value are skipped, as Spark's aggregates skip NULL inputs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F

from ..sigkit.arrow_buf import list_array, list_values
from ..sigkit.bottom_k import GroupedBottomK
from ..sigkit.frequencies import MisraGries
from ..sigkit.kmv import MAX_THETA63
from ..sigkit.tdigest import TDigest

_GRP = "__grp"
_ROW = "__row"
_TDIGEST_STATE = "means array<double>, weights array<double>"
_MG_STATE = "items array<{t}>, counts array<long>, offset long, weight long"
# Rows per partial chunk: the per-call cost is paid per chunk, not per
# Arrow batch, and results do not depend on the batch size. Theta partials
# over 384-row batches of 60k / 600k lineitem rows, k = 16384: 4k chunks
# 24 / 137 ms, 16k 18 / 108, 64k 16 / 77, 256k 15 / 94 (one process).
_CHUNK_ROWS = 1 << 16


def _quantile_col_name(q: float) -> str:
    """Injective default name: p50, p90, p99, p99_9, p12_5, ...

    ``round(q*100)`` collides (0.999 and 1.0 both → p100; banker's rounding
    maps 0.125 and 0.135 both → p12), so keep every significant decimal and
    replace the point with an underscore.
    """
    s = format(q * 100, ".10f").rstrip("0").rstrip(".")
    return "p" + s.replace(".", "_").replace("-", "m")


def _grouped(df: DataFrame, group_cols: list[str], values: dict[str, Column], tail: str):
    """(df projected to (group..., values...), its grouping columns, the
    output schema (group..., tail)). With no group columns every row
    groups under a constant ``__grp``, which the partials pass on and
    ``_merge`` drops."""
    gcols = group_cols or [_GRP]
    df = df if group_cols else df.withColumn(_GRP, F.lit(0))
    base = df.select(*gcols, *(c.alias(n) for n, c in values.items()))
    keys = (f"{c} {base.schema[c].dataType.simpleString()}" for c in gcols)
    return base, gcols, ", ".join([*keys, tail])


def _row_chunks(batches):
    """The batches' rows as tables of ``_CHUNK_ROWS`` rows (the last one
    shorter), so chunk bounds follow the row stream, not the batch size."""
    held, n = [], 0
    for rb in batches:
        held.append(rb)
        n += rb.num_rows
        while n >= _CHUNK_ROWS:
            t = pa.Table.from_batches(held)
            yield t.slice(0, _CHUNK_ROWS).combine_chunks()
            held, n = t.slice(_CHUNK_ROWS).to_batches(), n - _CHUNK_ROWS
    if n:
        yield pa.Table.from_batches(held).combine_chunks()


def _partials(df, group_cols, values, tail, new_state) -> DataFrame:
    """Per-input-partition sketches as stored rows (group..., tail).

    ``new_state()`` makes a partition's state. Its ``update(ids, offs,
    table)`` folds one chunk of (values...) rows, grouped: group ``ids[i]``
    (dense, in first-seen order) owns ``table`` rows ``offs[i]:offs[i+1]``.
    Its ``rows(schema)`` gives the tail columns, one row per group id;
    ``schema`` is the chunks' Arrow schema."""
    base, gcols, schema = _grouped(df, group_cols, values, tail)
    names = list(values)  # the kernel must not capture the (JVM) Columns

    def partials(batches):
        index, state, tb = {}, new_state(), None
        for tb in _row_chunks(batches):
            rows = tb.append_column(_ROW, pa.array(np.arange(tb.num_rows)))
            g = rows.group_by(gcols, use_threads=False).aggregate([(_ROW, "list")])
            order, offs = list_values(g[f"{_ROW}_list"])
            keys = zip(*(g[c].to_pylist() for c in gcols))
            ids = np.fromiter((index.setdefault(k, len(index)) for k in keys), np.int64)
            state.update(ids, offs, tb.select(names).take(order))
        if index:
            keys = [pa.array(k, tb.schema.field(c).type) for c, k in zip(gcols, zip(*index))]
            cols = state.rows(tb.schema)
            yield pa.RecordBatch.from_arrays([*keys, *cols.values()], [*gcols, *cols])

    return base.mapInArrow(partials, schema)


class _Sketches:
    """A ``_partials`` state of one sketch per group, made by ``new()``:
    each chunk's rows of the group whose values are all non-NULL go to its
    ``update_batch``, one numpy array per value column; ``state(sketch,
    schema)`` gives a sketch's tail columns."""

    def __init__(self, new, state):
        self.new, self.state, self.sketches = new, state, []

    def update(self, ids, offs, table):
        self.sketches += [self.new() for _ in range(int(ids.max()) + 1 - len(self.sketches))]
        valid = np.ones(table.num_rows, bool)
        for c in table.columns:
            valid &= c.is_valid().to_numpy(zero_copy_only=False)
        keep = np.flatnonzero(valid)
        offs = np.searchsorted(keep, offs)
        cols = [c.to_numpy(zero_copy_only=False) for c in table.take(keep).columns]
        for i, lo, hi in zip(ids, offs[:-1], offs[1:]):
            self.sketches[i].update_batch(*(c[lo:hi] for c in cols))

    def rows(self, schema):
        rows = [self.state(s, schema) for s in self.sketches]
        return {n: pa.concat_arrays([r[n] for r in rows]) for n in rows[0]}


def _merge(df, group_cols, values, tail, kernel) -> DataFrame:
    """``groupBy(group_cols).applyInArrow``: ``kernel(table)`` gives the
    tail columns of one group's output rows, which repeat the group key."""
    base, gcols, schema = _grouped(df, group_cols, values, tail)

    def merge(key, table):  # unannotated: (key, pa.Table), no type-hint inference
        cols = kernel(table)
        rows = np.zeros(len(next(iter(cols.values()))), dtype=np.int64)
        keys = table.select(gcols).take(rows)
        return pa.Table.from_arrays([*keys.columns, *cols.values()], [*gcols, *cols])

    out = base.groupBy(*gcols).applyInArrow(merge, schema)
    return out if group_cols else out.drop(_GRP)


# ---------------------------------------------------------------- t-digest


def _tdigest_state(d: TDigest) -> dict[str, pa.Array]:
    d.compress()
    offs = np.array([0, len(d.means)])
    return {"means": list_array(d.means, offs), "weights": list_array(d.weights, offs)}


def _tdigest_partials(df, group_cols, value_col, delta) -> DataFrame:
    return _partials(
        df, group_cols, {"__v": F.col(value_col).cast("double")}, _TDIGEST_STATE,
        lambda: _Sketches(lambda: TDigest(delta), lambda d, _: _tdigest_state(d)),
    )


def _tdigest_merge(df, group_cols, delta, tail, finish, means_col="means", weights_col="weights"):
    """Buffer-then-compress merge of each group's stored digests
    (tdigest/sketch.rs:235-259): the group's flattened centroid columns
    are one digest's buffer."""

    def kernel(table):
        m, w = (np.asarray(list_values(table[c])[0], np.float64) for c in ("__m", "__w"))
        return finish(TDigest(delta, m, w))

    values = {"__m": F.col(means_col), "__w": F.col(weights_col)}
    return _merge(df, group_cols, values, tail, kernel)


def tdigest_agg(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles: list[float],
    delta: float = 200.0,
    col_names: list[str] | None = None,
) -> DataFrame:
    """(group..., p50 double, p90 double, ...) via distributed t-digest.

    One scalar double column per requested quantile (named ``p{100q}`` by
    default) — flat, hashable rows, mirroring the exact-percentile
    ``tdigest_quantiles`` shape. With delta > pi * n the k1 cap never lets
    two points merge, every centroid stays a singleton and the interpolated
    quantile is exact (and SQL-expressible). Round with F.round downstream
    (Python round() is banker's; SQL round is half-away-from-zero). NULL,
    NaN and infinite values are skipped; a group with none left reads NaN.
    """
    partials = _tdigest_partials(df, group_cols, value_col, delta)
    return tdigest_merge_agg(partials, group_cols, quantiles, delta, col_names=col_names)


def tdigest_sketch_agg(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    delta: float = 200.0,
) -> DataFrame:
    """(group..., means array<double>, weights array<double>) — ONE stored
    mergeable t-digest per group, the sketch-warehouse storable form
    (TDigest serialized state; tdigest/sketch.rs centroids). Pair with
    ``tdigest_merge_agg`` to re-aggregate stored digests later without
    rescanning raw values.
    """
    partials = _tdigest_partials(df, group_cols, value_col, delta)
    return _tdigest_merge(partials, group_cols, delta, _TDIGEST_STATE, _tdigest_state)


def tdigest_merge_agg(
    df: DataFrame,
    group_cols: list[str],
    quantiles: list[float],
    delta: float = 200.0,
    means_col: str = "means",
    weights_col: str = "weights",
    col_names: list[str] | None = None,
) -> DataFrame:
    """Merge the N stored t-digests in each group — the reference's
    buffer-then-compress merge (tdigest/sketch.rs:235-259) as a grouped
    aggregate over (means, weights) array columns — and evaluate the
    requested quantiles. Shuffle volume is O(groups × delta centroids),
    independent of the raw rows the stored digests summarized.
    """
    if col_names is None:
        col_names = [_quantile_col_name(q) for q in quantiles]
    if len(set(col_names)) != len(col_names):
        raise ValueError(f"duplicate quantile column names: {col_names}")

    def finish(d: TDigest) -> dict[str, pa.Array]:
        return {c: pa.array([d.quantile(q)], pa.float64()) for c, q in zip(col_names, quantiles)}

    tail = ", ".join(f"{c} double" for c in col_names)
    return _tdigest_merge(df, group_cols, delta, tail, finish, means_col, weights_col)


# ------------------------------------------------------------- Misra-Gries


def _mg_state(s: MisraGries, item_type: pa.DataType) -> dict[str, pa.Array]:
    offs = np.array([0, len(s.items)])
    return {
        "items": list_array(s.items, offs, item_type),
        "counts": list_array(s.counts, offs, pa.int64()),
        "offset": pa.array([s.offset], pa.int64()),
        "weight": pa.array([s.stream_weight], pa.int64()),
    }


def _mg_partials(df, group_cols, item_col, weight_col, max_map_size) -> DataFrame:
    """The stored items keep the item column's NATIVE Spark type (the
    reference sketch is generic over T, frequencies/sketch.rs:96), so
    long/binary items round-trip without a lossy string cast."""
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    return _partials(
        df, group_cols, {"__it": F.col(item_col), "__w": w},
        _MG_STATE.format(t=df.schema[item_col].dataType.simpleString()),
        lambda: _Sketches(
            lambda: MisraGries(max_map_size),
            lambda s, schema: _mg_state(s, schema.field("__it").type),
        ),
    )


def _mg_merge(df, group_cols, max_map_size, tail, finish) -> DataFrame:
    """Itemwise-add merge of each group's stored Misra-Gries rows, one row
    after another (frequencies/sketch.rs:358-371); ``{t}`` in ``tail`` is
    the stored items' element type."""

    def kernel(table):
        items, offs = list_values(table["items"])
        items = items.astype(object)
        counts = list_values(table["counts"])[0].astype(np.int64)
        s = MisraGries(max_map_size)
        rows = zip(offs[:-1], offs[1:], table["offset"].to_pylist(), table["weight"].to_pylist())
        for lo, hi, off, wt in rows:
            s.merge(MisraGries(max_map_size, items[lo:hi], counts[lo:hi], off, wt))
        return finish(s, table["items"].type.value_type)

    item_t = df.schema["items"].dataType.elementType.simpleString()
    values = {c: F.col(c) for c in ("items", "counts", "offset", "weight")}
    return _merge(df, group_cols, values, tail.format(t=item_t), kernel)


def frequent_items_sketch_agg(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    max_map_size: int = 256,
    weight_col: str | None = None,
) -> DataFrame:
    """(group..., items, counts, offset, weight) — ONE stored Misra-Gries
    sketch per group (FrequentItemsSketch serialized state), the storable
    counterpart of ``frequent_items_agg``; re-aggregate later with
    ``frequent_items_merge_agg``. The stored ``items`` array keeps the
    item column's native type (long items stay long, binary stays
    binary). Rows whose item or weight is NULL are skipped."""
    partials = _mg_partials(df, group_cols, item_col, weight_col, max_map_size)
    return _mg_merge(partials, group_cols, max_map_size, _MG_STATE, _mg_state)


def frequent_items_merge_agg(
    df: DataFrame,
    group_cols: list[str],
    max_map_size: int = 256,
    threshold_weight: int | None = None,
    no_false_negatives: bool = True,
) -> DataFrame:
    """Merge the N stored Misra-Gries sketches in each group — itemwise
    count addition + offset addition (frequencies/sketch.rs:358-371) —
    and run the threshold query under the chosen error type
    (``MisraGries.above_threshold``). Input rows carry (items, counts,
    offset, weight) columns as produced by ``frequent_items_sketch_agg``;
    the output ``item`` column keeps the stored items' native element
    type."""

    def finish(s: MisraGries, item_type: pa.DataType) -> dict[str, pa.Array]:
        keep = s.above_threshold(threshold_weight, no_false_negatives)
        return {
            "item": pa.array(s.items[keep], item_type),
            "count_lb": pa.array(s.counts[keep], pa.int64()),
            "count_ub": pa.array(s.counts[keep] + s.offset, pa.int64()),
        }

    tail = "item {t}, count_lb long, count_ub long"
    return _mg_merge(df, group_cols, max_map_size, tail, finish)


def frequent_items_agg(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    max_map_size: int = 256,
    threshold_weight: int | None = None,
    weight_col: str | None = None,
    no_false_negatives: bool = True,
) -> DataFrame:
    """Heavy hitters per group via distributed Misra-Gries.

    Output rows: (group..., item, count_lb, count_ub) for items passing the
    threshold under the chosen error type (frequencies/sketch.rs:421-436):
    the threshold is clamped to max(threshold, offset), then
    ``no_false_negatives=True`` keeps items whose UPPER bound is STRICTLY
    > threshold (every true heavy hitter reported, some light items may
    slip in); ``False`` is ErrorType::NoFalsePositives — LOWER bound >
    threshold, so every reported item is guaranteed heavy, some true
    hitters may be missed. In exact mode (no purges, offset 0) the two
    coincide. Threshold defaults to the sketch's maximum_error (= offset).
    The ``item`` column keeps the input column's native type. Rows whose
    item or weight is NULL are skipped and add no stream weight.
    """
    partials = _mg_partials(df, group_cols, item_col, weight_col, max_map_size)
    return frequent_items_merge_agg(
        partials, group_cols, max_map_size, threshold_weight, no_false_negatives
    )


# -------------------------------------------------------------- theta / tuple


def _kmv_tail(summary: bool) -> str:
    s = "summaries:array<double>," if summary else ""
    return f"sketch struct<kmv:array<bigint>,{s}theta:bigint,retained:int>"


def _kmv_state(kern: GroupedBottomK) -> dict[str, pa.Array]:
    offs, kmv, sums, theta = kern.sketches()
    fields = {"kmv": list_array(kmv, offs, pa.int64())}
    if sums is not None:
        fields["summaries"] = list_array(sums, offs, pa.float64())
    fields["theta"] = pa.array(theta, pa.int64())
    fields["retained"] = pa.array(np.diff(offs), pa.int32())
    return {"sketch": pa.StructArray.from_arrays(list(fields.values()), list(fields))}


def _kmv_fold(kern: GroupedBottomK, group: np.ndarray, table: pa.Table) -> None:
    """Fold stored sketch rows (``__k`` hashes, ``__t`` theta[, ``__v``
    summaries]) of groups ``group`` into ``kern``. Every row lowers its
    group's theta, an empty sketch's too; a NULL theta is MAX."""
    kern.lower_theta(group, table["__t"].fill_null(MAX_THETA63).to_numpy())
    h, offs = list_values(table["__k"])
    s = list_values(table["__v"])[0] if kern.summary else None
    kern.update(np.repeat(group, np.diff(offs)), h.astype(np.int64), s)


class _Kmv:
    """The ``_partials`` state of a KMV build (``(__h[, __s])`` rows) or,
    with ``stored``, of a merge (stored sketch rows)."""

    def __init__(self, k: int, theta: int, summary: bool, stored: bool):
        self.kern, self.stored = GroupedBottomK(k, theta, summary), stored

    def update(self, ids, offs, table):
        group = np.repeat(ids, np.diff(offs))
        if self.stored:
            _kmv_fold(self.kern, group, table)
        else:
            s = table["__s"].to_numpy() if self.kern.summary else None
            self.kern.update(group, table["__h"].to_numpy(), s)

    def rows(self, _schema):
        return _kmv_state(self.kern)


def _kmv_values(sketch_col: str, summary: bool) -> dict[str, Column]:
    s = F.col(sketch_col)
    v = {"__k": s["kmv"], "__t": s["theta"]}
    return {**v, "__v": s["summaries"]} if summary else v


def kmv_partials(
    df: DataFrame, group_cols: list[str], k: int, summary: bool,
    theta: int = MAX_THETA63, sketch_col: str | None = None,
) -> DataFrame:
    """(group..., ``sketch``) rows, one per group and input partition: the
    KMV sketch of the partition's rows (``GroupedBottomK``), with a summary
    per hash if ``summary``. ``df`` holds a build's (group..., ``__h``[,
    ``__s``]) rows, 63-bit hashes with initial theta ``theta``, or, given
    ``sketch_col``, the stored sketches a merge unions."""
    if sketch_col is None:
        values = {c: F.col(c) for c in ["__h", "__s"][: 1 + summary]}
    else:
        values = _kmv_values(sketch_col, summary)
    stored = sketch_col is not None
    return _partials(
        df, group_cols, values, _kmv_tail(summary), lambda: _Kmv(k, theta, summary, stored)
    )


def kmv_merge(partials: DataFrame, group_cols: list[str], k: int, summary: bool) -> DataFrame:
    """group_cols + ``sketch``: one sketch per group from ``kmv_partials``,
    the union (common/union.rs:64-135) under the group's minimum theta.
    It is exact: a hash outside a partition's k+1 smallest is outside the
    group's k+1 smallest too, and a hash among the group's k smallest is
    among the k smallest of every partition it occurs in, so its summary
    sums every row. With no group columns a never-updated sketch joins the
    partials, so an empty input still gives one row, as a global aggregate
    does."""
    if not group_cols:
        never = ([], *([[]] if summary else []), MAX_THETA63, 0)
        spark = partials.sparkSession
        partials = partials.unionByName(spark.createDataFrame([(0, never)], partials.schema))

    def kernel(table):
        kern = GroupedBottomK(k, MAX_THETA63, summary)
        _kmv_fold(kern, np.zeros(table.num_rows, np.int64), table)
        return _kmv_state(kern)

    return _merge(partials, group_cols, _kmv_values("sketch", summary), _kmv_tail(summary), kernel)
