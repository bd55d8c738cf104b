"""Count-Min, Bloom, frequent-items and HLL as Spark-native aggregates.

Each sketch is re-expressed in Spark's partial→final aggregation model
with JVM-only expressions (the sketch state becomes a small DataFrame or a
group of rows), mirroring the reference's merge contracts:

- Count-Min (countmin/sketch.rs:47-98, merge :254-267): the d×w counter
  matrix IS a grouped count table keyed by (row, bucket); elementwise `+`
  merge is what groupBy().sum() does. The ``CountMinDF`` handle carries
  the cell placement — (num_hashes, width) and the JVM xxhash64 or the
  reference's murmur bucket layout (countmin/sketch.rs:423-428) — which
  build, merge and estimate all read from it.
- Bloom (bloom/sketch.rs:123-126, :510-554): Kirsch-Mitzenmacher double
  hashing h0 + i*h1; the bit set is a distinct-positions DataFrame, union
  is just distinct-union of positions (bit-OR, bloom/sketch.rs:179-197);
  probes test the same position expression against a broadcast bitmap.
- Frequent items (frequencies/sketch.rs:96-132): in exact mode (map size
  >= distinct items) Misra-Gries never purges, so counts are exact
  groupBy counts and the threshold query is `HAVING cnt >= threshold`
  with NoFalseNegatives/NoFalsePositives coinciding.
- HLL (hll/sketch.rs:91-104): Spark's approx_count_distinct IS an HLL++
  union; ``hll_distinct`` just fixes the rsd parameter mapping.
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

from pyspark.sql import Column, DataFrame, functions as F

# ----------------------------------------------------------------- count-min

_CM_MAX_HASHES = 127

# capacity gate for broadcasting a counter table into a probe join: cells
# are (row int, bucket int, cnt long) rows, so 2^25 cells ≈ 0.5-1 GB built —
# the same driver-capacity reasoning as _BLOOM_MAX_BROADCAST_BITS below.
# The reference allows width up to 2^30 (countmin/sketch.rs:135), where an
# unconditional broadcast would OOM the driver; past the gate the probe
# joins by shuffle on (row, bucket) instead.
_CM_MAX_BROADCAST_CELLS = 1 << 25


_CM_MAX_BUCKETS = (1 << 32) - 1  # u32::MAX — the reference's saturating cast


def countmin_suggest_num_buckets(relative_error: float) -> int:
    """Buckets needed for a target relative error: ceil(e / epsilon)
    (countmin/sketch.rs:135-139; epsilon = e/num_buckets per :121-123).
    relative_error == 0 saturates to u32::MAX exactly as the reference's
    `(E / 0.0).ceil() as u32` does."""
    import math

    if relative_error < 0.0:
        raise ValueError("relative_error must be at least 0")
    if relative_error == 0.0:
        return _CM_MAX_BUCKETS
    return int(min(math.ceil(math.e / relative_error), _CM_MAX_BUCKETS))


def countmin_suggest_num_hashes(confidence: float) -> int:
    """Hash rows needed for a target confidence 1-delta:
    ceil(ln(1/(1-confidence))), capped at 127 (countmin/sketch.rs:145-155)."""
    import math

    if not 0.0 <= confidence <= 1.0:
        raise ValueError("confidence must be between 0 and 1.0 (inclusive)")
    if confidence == 1.0:
        return _CM_MAX_HASHES
    return int(min(math.ceil(math.log(1.0 / (1.0 - confidence))), _CM_MAX_HASHES))


def countmin_relative_error(width: int) -> float:
    """epsilon implied by a bucket count (countmin/sketch.rs:121-123)."""
    import math

    if width <= 0:
        raise ValueError("width must be greater than 0")
    return math.e / width


def countmin_with_accuracy(relative_error: float, confidence: float) -> tuple[int, int]:
    """(num_hashes, width) for target error bounds — the accuracy-first
    builder pairing ``bloom_with_accuracy``, so callers stop hand-picking
    ``num_hashes=3, width=2048`` and hoping."""
    return countmin_suggest_num_hashes(confidence), countmin_suggest_num_buckets(relative_error)


def _cm_bucket(item: Column, row: int, width: int) -> Column:
    return F.pmod(F.xxhash64(item, F.lit(row)), F.lit(width)).cast("int")


class CountMinDF(NamedTuple):
    """A Count-Min sketch whose d×w counter matrix is a (row, bucket, cnt)
    DataFrame, carrying everything that places an item in a cell:
    (num_hashes, width) and the bucket layout. ``ref_seed=None`` is the
    JVM layout, bucket = pmod(xxhash64(item, row), width); a seed is the
    reference's murmur layout, bucket = h1(murmur128(item_bytes,
    row_seed)) % width with row seeds derived from it as
    countmin/sketch.rs:513-523, so the table is cell-compatible with
    counters imported from a reference sketch (items hash as their UTF-8
    bytes, framing note in sigkit.murmur3). Merge checks all three — a
    mismatched placement would merge and probe silently wrong counts,
    where the reference errors (countmin/sketch.rs:254-267). The
    Count-Min analog of ``BloomFilterDF``."""

    table: DataFrame
    num_hashes: int
    width: int
    ref_seed: int | None = None


def _reflayout_triples(item_col: str, row_seeds, width: int):
    """Arrow kernel: (item, row, bucket, __w) rows under the reference's
    murmur bucket layout — one vectorized murmur pass per batch."""
    import numpy as np
    import pyarrow as pa

    from ..sigkit.arrow_buf import to_buf
    from ..sigkit.murmur3 import murmur3_bucket_indexes

    def run(batches):
        for rb in batches:
            if not rb.num_rows:
                continue
            items = rb.column(0)
            buf, offs = to_buf(items)
            idx = murmur3_bucket_indexes(buf, offs, row_seeds, width)  # (n, d)
            n, d = idx.shape
            w = rb.column(1).to_numpy(zero_copy_only=False)
            rep = np.repeat(np.arange(n, dtype=np.int64), d)
            yield pa.RecordBatch.from_arrays(
                [
                    items.take(pa.array(rep)),
                    pa.array(np.tile(np.arange(d, dtype=np.int32), n)),
                    pa.array(idx.reshape(-1).astype(np.int32)),
                    pa.array(np.repeat(w, d).astype(np.int64)),
                ],
                [item_col, "row", "bucket", "__w"],
            )

    return run


def _cm_cells(
    df: DataFrame, item_col: str, weight: Column, num_hashes: int, width: int, ref_seed: int | None
) -> DataFrame:
    """(item_col, row, bucket, __w): one row per item and hash row, the
    cell the sketch's layout puts the item in — the only placement, shared
    by build and probe. The JVM layout is a codegen ``posexplode``; the
    murmur layout is one Arrow pass (``_reflayout_triples``) over the item
    cast to string."""
    if ref_seed is None:
        idx = F.array([_cm_bucket(F.col(item_col), r, width) for r in range(num_hashes)])
        return df.select(item_col, F.posexplode(idx).alias("row", "bucket"), weight.alias("__w"))
    from ..sigkit.murmur3 import murmur3_row_seeds

    base = df.select(F.col(item_col).cast("string").alias(item_col), weight.alias("__w"))
    seeds = murmur3_row_seeds(ref_seed, num_hashes)
    return base.mapInArrow(
        _reflayout_triples(item_col, seeds, width),
        f"`{item_col}` string, row int, bucket int, __w long",
    )


def countmin_sketch(
    df: DataFrame,
    item_col: str,
    weight_col: str | None = None,
    num_hashes: int = 3,
    width: int = 2048,
    ref_seed: int | None = None,
) -> CountMinDF:
    """Build a Count-Min sketch from a column: a grouped sum of the item
    weights (1 when ``weight_col`` is None) per (row, bucket) cell. The
    counters are longs, as the reference's are integers."""
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    cells = _cm_cells(df, item_col, w, num_hashes, width, ref_seed)
    table = cells.groupBy("row", "bucket").agg(F.sum("__w").alias("cnt"))
    return CountMinDF(table, num_hashes, width, ref_seed)


def countmin_merge(*sketches: CountMinDF) -> CountMinDF:
    """Merge N Count-Min sketches — elementwise counter addition
    (countmin/sketch.rs:254-267) is exactly a grouped sum over the
    (row, bucket) key. Sketches that place items differently (num_hashes,
    width or layout) raise, as the reference's dimension check does."""
    from functools import reduce

    first = sketches[0]
    for s in sketches[1:]:
        if s[1:] != first[1:]:
            raise ValueError(
                "incompatible count-min sketches: (num_hashes, width, ref_seed) "
                f"{first[1:]} vs {s[1:]}"
            )
    merged = reduce(lambda a, b: a.unionByName(b), (s.table for s in sketches))
    return first._replace(table=merged.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt")))


def countmin_halve(sketch: CountMinDF) -> CountMinDF:
    """Divide every counter by two, truncating — the exponential-decay
    primitive (countmin/sketch.rs:446-451, unsigned counters). Cells
    halved to zero are dropped: an absent (row, bucket) IS a zero counter
    in the sparse table encoding, so estimates are identical (floor
    commutes with the row-wise min). Stateless batch form of the
    reference's in-place mutation."""
    t = (
        sketch.table.select(
            "row", "bucket", F.floor(F.col("cnt") / 2).cast("long").alias("cnt")
        ).where(F.col("cnt") > 0)
    )
    return sketch._replace(table=t)


def countmin_decay(sketch: CountMinDF, decay: float) -> CountMinDF:
    """Multiply every counter by ``decay`` in (0, 1], truncating
    (countmin/sketch.rs:453-476). ``decay=0.5`` == ``countmin_halve``."""
    if not (0.0 < decay <= 1.0):
        raise ValueError("decay must be within (0, 1]")
    t = (
        sketch.table.select(
            "row",
            "bucket",
            F.floor(F.col("cnt") * F.lit(float(decay))).cast("long").alias("cnt"),
        ).where(F.col("cnt") > 0)
    )
    return sketch._replace(table=t)


def countmin_estimate(sketch: CountMinDF, items: DataFrame, item_col: str) -> DataFrame:
    """Point queries: est = min over rows of the bucket counters, with
    items placed by the sketch's own layout (``_cm_cells``), so probe and
    build can never index differently. The counter table broadcasts only
    while its worst-case cardinality, ``num_hashes * width`` cells, stays
    under ``_CM_MAX_BROADCAST_CELLS``; wider configs shuffle-join on
    (row, bucket) instead."""
    probes = _cm_cells(
        items, item_col, F.lit(1), sketch.num_hashes, sketch.width, sketch.ref_seed
    ).drop("__w")
    table = (
        F.broadcast(sketch.table)
        if sketch.num_hashes * sketch.width <= _CM_MAX_BROADCAST_CELLS
        else sketch.table
    )
    return (
        probes.join(table, ["row", "bucket"], "left")
        .fillna({"cnt": 0})
        .groupBy(item_col)
        .agg(F.min("cnt").alias("est_count"))
    )


# ----------------------------------------------------------------- bloom

_BLOOM_MIN_BITS, _BLOOM_MAX_BITS = 64, 1 << 40
_BLOOM_MIN_HASHES, _BLOOM_MAX_HASHES = 1, 1024


def bloom_suggest_num_bits(max_items: int, fpp: float) -> int:
    """Optimal m = ceil(-n ln(fpp) / ln(2)^2) (bloom/builder.rs:187-195)."""
    import math

    if max_items <= 0:
        raise ValueError("max_items must be greater than 0")
    if not 0.0 < fpp <= 1.0:
        raise ValueError("fpp must be in (0.0, 1.0]")
    bits = math.ceil(-max_items * math.log(fpp) / (math.log(2) ** 2))
    return int(min(max(bits, _BLOOM_MIN_BITS), _BLOOM_MAX_BITS))


def bloom_suggest_num_hashes(max_items: int, num_bits: int) -> int:
    """Optimal k = ceil((m/n) ln 2) (bloom/builder.rs:210-220)."""
    import math

    k = math.ceil(num_bits / max_items * math.log(2))
    return int(min(max(k, _BLOOM_MIN_HASHES), _BLOOM_MAX_HASHES))


def bloom_with_accuracy(max_items: int, fpp: float) -> tuple[int, int]:
    """(num_bits, num_hashes) for a target capacity and false-positive
    rate — the ``with_accuracy`` builder (bloom/builder.rs:72-87), so
    callers stop hand-picking ``1 << 22`` and hoping."""
    m = bloom_suggest_num_bits(max_items, fpp)
    return m, bloom_suggest_num_hashes(max_items, m)


def _bloom_positions(col: Column, num_bits: int, num_hashes: int) -> Column:
    """Kirsch-Mitzenmacher double-hash positions (bloom/sketch.rs:510-554)."""
    # modular form of h0 + i*h1 (mod m): ANSI-safe (no 64-bit overflow,
    # i * (h1 mod m) <= k * m << 2^63)
    h0 = F.pmod(F.xxhash64(col), F.lit(num_bits))
    h1 = F.pmod(F.xxhash64(F.xxhash64(col)), F.lit(num_bits))
    return F.array(
        [
            F.pmod(h0 + F.lit(i) * h1, F.lit(num_bits)).cast("long")
            for i in range(num_hashes)
        ]
    )


class BloomFilterDF(NamedTuple):
    """A bloom filter whose bit array is a distinct-positions DataFrame,
    carrying its (num_bits, num_hashes) config so complement/intersect are
    well-defined — the is_compatible contract of bloom/sketch.rs:179-186.
    The set-bit representation makes union/intersect sparse joins instead
    of dense bit-array scans; invert materializes against the explicit
    ``range(num_bits)`` universe."""

    bits: DataFrame
    num_bits: int
    num_hashes: int


def bloom_filter(
    df: DataFrame, col: str, num_bits: int = 1 << 22, num_hashes: int = 5
) -> BloomFilterDF:
    """Build a bloom filter from a column: the distinct bit positions of
    its items."""
    pos = _bloom_positions(F.col(col), num_bits, num_hashes)
    return BloomFilterDF(df.select(F.explode(pos).alias("bit")).distinct(), num_bits, num_hashes)


def _bloom_check_compatible(a: BloomFilterDF, b: BloomFilterDF) -> None:
    """Same size + hash count, as bloom/sketch.rs is_compatible requires."""
    if (a.num_bits, a.num_hashes) != (b.num_bits, b.num_hashes):
        raise ValueError(
            f"incompatible bloom filters: {(a.num_bits, a.num_hashes)} "
            f"vs {(b.num_bits, b.num_hashes)}"
        )


def bloom_union(a: BloomFilterDF, b: BloomFilterDF) -> BloomFilterDF:
    """Bitwise OR (bloom/sketch.rs:179-192) = distinct union of positions."""
    _bloom_check_compatible(a, b)
    return a._replace(bits=a.bits.unionByName(b.bits).distinct())


def bloom_intersect(a: BloomFilterDF, b: BloomFilterDF) -> BloomFilterDF:
    """Bitwise AND (bloom/sketch.rs:224-237) = inner join of position sets."""
    _bloom_check_compatible(a, b)
    return a._replace(bits=a.bits.join(b.bits, "bit", "left_semi"))


def bloom_invert(a: BloomFilterDF) -> BloomFilterDF:
    """Bitwise NOT (bloom/sketch.rs:255-260): anti-join of the explicit
    bit universe against the set positions. The universe is a ``range``
    scan — no materialized table, and the anti-join broadcasts the set
    side when small."""
    spark = a.bits.sparkSession
    universe = spark.range(a.num_bits).select(F.col("id").alias("bit"))
    return a._replace(bits=universe.join(a.bits, "bit", "left_anti"))


def bloom_bits_used(f: BloomFilterDF) -> int:
    """Number of set bits (bloom/sketch.rs bits_used; is_empty == 0)."""
    return f.bits.count()


_BLOOM_MAX_BROADCAST_BITS = 1 << 25  # a 4 MB bitmap on the driver and in every executor


def bloom_contains(probe: DataFrame, col: str, f: BloomFilterDF) -> DataFrame:
    """Distinct probe rows + boolean ``might_contain``: all k positions of
    the row's ``col`` are set. Positions come from ``_bloom_positions``,
    the expression the build uses, for every key type.

    Up to ``_BLOOM_MAX_BROADCAST_BITS`` the set-bit relation is OR-reduced
    into one dense ``num_bits/8``-byte bitmap (at most 8 partial bitmaps,
    driver OR — the reducer the substring prefilter uses too), broadcast
    once, and one ``mapInArrow`` kernel tests each row's k positions
    against it: no join and no grouped count over k rows per probe row.

    Past the gate (worst-case set-bit cardinality == the universe) the
    probe explodes its positions and left-joins the bit relation by
    shuffle, instead of forcing an over-capacity broadcast onto the
    driver. AQE may still re-plan it to a runtime broadcast when the
    *actual* bit set turns out tiny — the right dynamic decision, made on
    the real size instead of the capacity bound."""
    pos = _bloom_positions(F.col(col), f.num_bits, f.num_hashes)
    if f.num_bits > _BLOOM_MAX_BROADCAST_BITS:
        ex = probe.select("*", F.explode(pos).alias("bit"))
        marked = ex.join(f.bits.withColumn("__hit", F.lit(1)), "bit", "left")
        # count("*") (all exploded positions), not lit(num_hashes): duplicate
        # probe rows collapse into one group with a multiple of k positions,
        # and the contract is "every position hit", not "exactly k hits".
        return marked.groupBy(*probe.columns).agg(
            (F.count("__hit") == F.count("*")).alias("might_contain")
        )

    import numpy as np
    import pyarrow as pa

    from ..sigkit.arrow_buf import bitmap_test, list_values, or_reduce_bitmap

    bitmap = or_reduce_bitmap(
        f.bits.select(F.col("bit").cast("long")),
        lambda rb: np.asarray(rb.column(0)),
        f.num_bits,
    )
    bmb = probe.sparkSession.sparkContext.broadcast(bitmap)
    deduped = probe.dropDuplicates()
    cols = list(deduped.columns)
    k = f.num_hashes

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        bm = np.frombuffer(bmb.value, dtype=np.uint8)
        for rb in batches:
            if not rb.num_rows:
                continue
            positions, _ = list_values(rb.column(len(cols)))
            hit = bitmap_test(bm, positions).reshape(-1, k).all(axis=1)
            yield pa.RecordBatch.from_arrays(
                [rb.column(j) for j in range(len(cols))] + [pa.array(hit)],
                names=cols + ["might_contain"],
            )

    out_schema = deduped.withColumn("might_contain", F.lit(True)).schema
    return deduped.select("*", pos.alias("__pos")).mapInArrow(run, out_schema)


# ----------------------------------------------------------------- frequent

def frequent_items(
    df: DataFrame, item_col: str, threshold: int
) -> DataFrame:
    """Heavy hitters with count >= threshold (exact-mode Misra-Gries).

    Deliberately the SQL ``HAVING count(*) >= t`` convention — this is the
    exact-count helper, not the sketch threshold query; the reference's
    clamped strict-``>`` semantics (frequencies/sketch.rs:421-436) live in
    the MG aggregates (functions/sketch_aggs.py) and sigkit.frequencies."""
    return (
        df.groupBy(item_col)
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= threshold)
    )


# ----------------------------------------------------------------- hll

def hll_distinct(df: DataFrame, group_cols: list[str], value_col: str, rsd: float = 0.016) -> DataFrame:
    """HLL++ distinct count per group (rsd 0.016 ≙ lg_k=12, hll/sketch.rs:73-75)."""
    return df.groupBy(*group_cols).agg(
        F.approx_count_distinct(value_col, rsd).alias("approx_distinct")
    )
