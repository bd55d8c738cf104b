"""Theta/KMV sketch: the grouped aggregates and the column set ops.

The reference's theta sketch is "k smallest distinct 63-bit hashes + theta"
(datasketches-rust `thetafamily/theta/sketch.rs:103-106`, rebuild/trim at
``common/hash_table.rs:388-423``). The sketch column is a struct
(kmv array<long>, theta long, retained int) — the ordered
CompactThetaSketch (theta/sketch.rs:321-332) as a column.

- hash item: ``xxhash64 >> 1`` in the JVM (63-bit, sign-safe — the
  Java-compat form of ``common/hash_table.rs:135-140``); rows with a NULL
  item are skipped, as ``COUNT(DISTINCT)`` skips them;
- build and grouped union (``theta_sketch_agg``, ``theta_merge_agg``):
  the KMV family of functions/sketch_aggs.py — a ``mapInArrow`` partial
  keeps each group's k+1 smallest distinct hashes per input partition
  (sigkit.bottom_k), one ``applyInArrow`` merge per group keeps the k
  smallest under the group's minimum theta and sets theta from the
  (k+1)-th (ThetaUnion, common/union.rs:64-135);
- estimate: retained / (theta / 2^63) (theta/sketch.rs:143-150), exact
  while the true distinct count <= k.

The tuple sketch (functions/tuple.py) runs the same aggregates with a
summary carried beside each hash, as the reference's tuple sketch reuses
the theta hash table, trim and union rules. Set ops (union/intersect/
a-not-b) between sketch columns are JVM array functions:
array_union/array_intersect/array_except + theta min.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..sigkit.kmv import MAX_THETA63
from .sketch_aggs import kmv_merge, kmv_partials


def _h63(col) -> Column:
    """63-bit item hash (works for any Spark-hashable column type)."""
    return F.shiftrightunsigned(F.xxhash64(col), 1)


def canonical_double(col: Column) -> Column:
    """Canonical-float hashing contract (hash/value/canonical_float,
    hash/value/mod.rs:24-35): signed zeros hash the same, every NaN maps to
    one canonical NaN, and equal f32/f64 values hash the same (via the f64
    widening cast). Spark's xxhash64 already normalizes -0.0 and NaN *within*
    a double column; the cast closes the f32-vs-f64 gap and the explicit
    normalization pins the contract independent of engine behavior."""
    c = col.cast("double")
    return F.when(F.isnan(c), F.lit(float("nan"))).otherwise(c + F.lit(0.0))


def canonical_value(df: DataFrame, col_name: str) -> Column:
    """Column wrapped per the reference's value-hashing strategies
    (hash/value/mod.rs:24-78): floats → canonical f64; short integers →
    64-bit sign extension (SignExtend — a plain widening cast in Spark,
    whose integral types are all signed, so NaturalExtend's unsigned
    variant has no Spark counterpart); everything else hashes as-is."""
    from pyspark.sql.types import (
        ByteType,
        DoubleType,
        FloatType,
        IntegerType,
        ShortType,
    )

    dt = df.schema[col_name].dataType
    c = F.col(col_name)
    if isinstance(dt, (FloatType, DoubleType)):
        return canonical_double(c)
    if isinstance(dt, (ByteType, ShortType, IntegerType)):
        return c.cast("long")
    return c


def _hashed(
    df: DataFrame, group_cols: list[str], value_col: str, summary_col: str | None = None
) -> DataFrame:
    """(group..., __h[, __s]) input rows of a sketch build: the item's
    63-bit hash and, for a tuple sketch, its summary value. A row whose
    item or summary is NULL hashes to 0 (Spark's ``xxhash64(NULL)`` is the
    seed, which would count NULL as an item), so like a zero hash
    (hash_table.rs:160-163) it inserts nothing but keeps its group, as
    ``COUNT(DISTINCT)`` does."""
    keep = F.col(value_col).isNotNull()
    extra = []
    if summary_col is not None:
        keep = keep & F.col(summary_col).isNotNull()
        extra = [F.col(summary_col).cast("double").alias("__s")]
    h = F.when(keep, _h63(canonical_value(df, value_col))).otherwise(F.lit(0))
    return df.select(*group_cols, h.alias("__h"), *extra)


def _key(e: Column, summary: bool) -> Column:
    return e["key"] if summary else e


def _truncate(m: Column, k: int, theta: Column, summary: bool = False) -> tuple[Column, Column]:
    """(entries, theta) of sorted entries below ``theta``, cut to k: past k
    entries it keeps the k smallest and lowers theta to the (k+1)-th hash
    (the trim of hash_table.rs:388-423)."""
    over = F.size(m) > k
    return (
        F.when(over, F.slice(m, 1, k)).otherwise(m),
        F.when(over, _key(F.element_at(m, k + 1), summary)).otherwise(theta),
    )


def _pack(m: Column, theta: Column, summary: bool = False) -> Column:
    """Sorted entries below ``theta`` → sketch struct. An entry is a hash,
    or for a tuple sketch a (key=hash, value=summary) struct — the shape
    ``map_entries`` gives."""
    if summary:
        fields = [
            F.transform(m, lambda e: e["key"]).alias("kmv"),
            F.transform(m, lambda e: e["value"]).alias("summaries"),
        ]
    else:
        fields = [m.alias("kmv")]
    return F.struct(
        *fields, theta.cast("long").alias("theta"), F.size(m).cast("int").alias("retained")
    )


def theta_sketch_agg(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 4096,
    p: float = 1.0,
) -> DataFrame:
    """groupBy(group_cols) → theta sketch of distinct value_col per group.

    One read of ``df``: per-shard build, then union — ``kmv_partials``
    keeps each group's k+1 smallest distinct hashes per input partition
    and ``kmv_merge`` unions them, exactly. A NULL ``value_col`` inserts
    nothing, but its group stays (as in ``COUNT(DISTINCT)``); a NULL group
    key is its own group. Returns group_cols + ``sketch``.

    ``p`` is the reference's up-front sampling probability
    (theta/sketch.rs builder: initial theta = p * MAX_THETA): hashes >=
    p*2^63 are rejected at insert time (a group whose every hash is
    rejected keeps an empty sketch at theta p*MAX, the reference's
    updated-but-empty sampling sketch) and the sketch's theta never
    exceeds p*MAX — the estimator divides by theta/2^63 as usual, so
    estimates stay unbiased under sampling.
    """
    init_theta = MAX_THETA63 if p >= 1.0 else int(p * MAX_THETA63)
    rows = _hashed(df, group_cols, value_col)
    return kmv_merge(kmv_partials(rows, group_cols, k, False, init_theta), group_cols, k, False)


def theta_merge_agg(
    df: DataFrame,
    group_cols: list[str],
    sketch_col: str = "sketch",
    k: int = 4096,
) -> DataFrame:
    """groupBy(group_cols) → union of the N pre-built sketch structs in
    each group — the reference's union *accumulator* over many input
    sketches (common/union.rs:64-135, ``UnionState::update`` called once
    per sketch) in Spark's partial→final shape. This is the
    sketch-warehouse re-aggregation workflow: store per-day/per-partition
    sketches, ``groupBy(month)`` and merge, without the crossJoin fold a
    pairwise ``theta_union`` column would need.

    One read of ``df`` and one shuffle of sketches: the partials keep a
    group's min theta and its k+1 smallest hashes below it per input
    partition, and ``kmv_merge`` screens under the group's min theta and
    truncates to k (the ThetaUnion order, common/union.rs:130-135).

    Empty-sketch semantics (deliberate, differs from the reference in one
    corner): the group min-theta is taken over ALL input sketches,
    including retained==0 rows, whereas ``UnionState::update`` skips
    sketches whose ``is_empty`` flag is set. This engine carries no empty
    flag — retained==0 ∧ theta==MAX is the never-updated proxy
    (``_never_updated``), and since theta==MAX is the min-identity those
    rows can't move the result. A retained==0 row with theta < MAX is
    therefore interpreted as *updated-but-sampled-to-empty* (a sampling
    sketch, p<1, that screened out everything it saw): such a sketch DID
    observe its stream under theta=p·MAX, so its theta legitimately
    bounds the union's — the same information-preserving choice the
    reference makes for updated non-empty sampling sketches. If an
    explicit empty flag is ever added to the struct, exclude flagged
    rows from the min to match union.rs exactly.
    """
    partials = kmv_partials(df, group_cols, k, False, sketch_col=sketch_col)
    return kmv_merge(partials, group_cols, k, False)


def theta_estimate(sketch: Column) -> Column:
    """retained / (theta/2^63) — exact below k (theta/sketch.rs:143-150)."""
    return sketch["retained"].cast("double") / (
        sketch["theta"].cast("double") / F.lit(float(1 << 63))
    )


def theta_bounds(sketch: Column, num_std_devs: int = 2) -> Column:
    """(lower, estimate, upper) struct — binomial_bounds.rs:288-342 as JVM
    expressions.

    Piecewise exactly as the reference: exact mode (theta == MAX) collapses
    the triple; retained == 0 / == 1 use the closed-form log bounds;
    retained > 120 uses the Gaussian with continuity correction
    (cont_classic, binomial_bounds.rs:469-485) -/+ 0.5. The only deviation
    is 2 <= retained <= 120 in estimation mode (unreachable for sketches
    with k >= 256, whose estimation-mode retained ~= k): there the
    reference walks the exact binomial tail, which is not a JVM
    expression — this column uses cont_classic there too, and the exact
    walk is available driver-side as sigkit.binomial_bounds.lower_bound/
    upper_bound. Final clamps per the reference: lb = min(est, max(r, raw)),
    ub = max(est, raw).
    """
    from ..sigkit.binomial_bounds import _delta_of_num_stdevs

    z = F.lit(float(num_std_devs))
    delta = F.lit(_delta_of_num_stdevs(float(num_std_devs)))
    est = theta_estimate(sketch)
    r = sketch["retained"].cast("double")
    tf = sketch["theta"].cast("double") / F.lit(float(1 << 63))
    exact = sketch["theta"] == F.lit(MAX_THETA63)

    b = z * F.sqrt((F.lit(1.0) - tf) / tf)
    nh_lb = (r - F.lit(0.5)) / tf
    nh_ub = (r + F.lit(0.5)) / tf
    cc_lb = nh_lb + F.lit(0.5) * b * b - F.lit(0.5) * b * F.sqrt(b * b + F.lit(4.0) * nh_lb)
    cc_ub = nh_ub + F.lit(0.5) * b * b + F.lit(0.5) * b * F.sqrt(b * b + F.lit(4.0) * nh_ub)

    raw_lb = (
        F.when(r == 0, F.lit(0.0))
        .when(r == 1, F.floor(F.log(F.lit(1.0) - delta) / F.log(F.lit(1.0) - tf)))
        .otherwise(cc_lb - F.lit(0.5))
    )
    raw_ub = (
        F.when(r == 0, F.ceil(F.log(delta) / F.log(F.lit(1.0) - tf)))
        .otherwise(cc_ub + F.lit(0.5))
    )
    lb = F.when(exact, est).otherwise(F.least(est, F.greatest(r, raw_lb)))
    ub = F.when(exact, est).otherwise(F.greatest(est, raw_ub.cast("double")))
    return F.struct(lb.alias("lower"), est.alias("estimate"), ub.alias("upper"))


def _min_theta(a: Column, b: Column) -> Column:
    return F.least(a["theta"], b["theta"])


def _screen(arr: Column, theta: Column) -> Column:
    return F.filter(arr, lambda x: x < theta)


def theta_union(a: Column, b: Column, k: int = 4096) -> Column:
    """Union of two sketch structs (common/union.rs:64-135)."""
    theta = _min_theta(a, b)
    m = F.array_union(_screen(a["kmv"], theta), _screen(b["kmv"], theta))
    return _pack(*_truncate(F.array_sort(m), k, theta))


def theta_intersection(a: Column, b: Column) -> Column:
    """Intersection under min-theta (common/intersection.rs:53-226)."""
    theta = _min_theta(a, b)
    m = F.array_intersect(_screen(a["kmv"], theta), _screen(b["kmv"], theta))
    return _pack(F.array_sort(m), theta)


def theta_a_not_b(a: Column, b: Column) -> Column:
    """A \\ B below combined theta (common/a_not_b.rs:58-168)."""
    theta = _min_theta(a, b)
    m = F.array_except(_screen(a["kmv"], theta), _screen(b["kmv"], theta))
    return _pack(F.array_sort(m), theta)


# ------------------------------------------------------------ jaccard triple


def _phi_neg(z: Column) -> Column:
    """Standard-normal tail Φ(-z) via the A&S 7.1.26 erfc polynomial
    (|error| < 1.5e-7) — Spark has no erf builtin, and this only feeds the
    k ∈ {0, 1, n-1, n} edge branches of the proportion bounds."""
    import math

    x = F.abs(z) / F.lit(math.sqrt(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = t * (
        F.lit(0.254829592)
        + t
        * (
            F.lit(-0.284496736)
            + t * (F.lit(1.421413741) + t * (F.lit(-1.453152027) + t * F.lit(1.061405429)))
        )
    )
    tail = F.lit(0.5) * poly * F.exp(-x * x)  # Φ(-|z|)
    return F.when(z >= 0, tail).otherwise(F.lit(1.0) - tail)


def _as26522(a: Column, b: Column, yp: Column) -> Column:
    """A&S 26.5.22 normal approximation to the inverse incomplete beta
    (binomial_bounds.rs:439-450) as a JVM expression."""
    b2m1 = F.lit(2.0) * b - F.lit(1.0)
    a2m1 = F.lit(2.0) * a - F.lit(1.0)
    lam = (yp * yp - F.lit(3.0)) / F.lit(6.0)
    h = F.lit(2.0) / (F.lit(1.0) / a2m1 + F.lit(1.0) / b2m1)
    term1 = yp * F.sqrt(h + lam) / h
    term2 = F.lit(1.0) / b2m1 - F.lit(1.0) / a2m1
    term3 = lam + F.lit(5.0 / 6.0) - F.lit(2.0) / (F.lit(3.0) * h)
    w = term1 - term2 * term3
    return a / (a + b * F.exp(F.lit(2.0) * w))


def _lower_bound_on_p(n: Column, k: Column, z: Column) -> Column:
    """binomial_bounds.rs:345-367 (CaseWhen short-circuits, so the edge
    branches guard the divisions in the general branch)."""
    delta = _phi_neg(z)
    return (
        F.when((n == 0) | (k == 0), F.lit(0.0))
        .when(k == 1, F.lit(1.0) - F.pow(F.lit(1.0) - delta, F.lit(1.0) / n))
        .when(k == n, F.pow(delta, F.lit(1.0) / n))
        .otherwise(F.lit(1.0) - _as26522(n - k + F.lit(1.0), k, -z))
    )


def _upper_bound_on_p(n: Column, k: Column, z: Column) -> Column:
    """binomial_bounds.rs:370-392."""
    delta = _phi_neg(z)
    return (
        F.when((n == 0) | (k == n), F.lit(1.0))
        .when(k == n - 1, F.pow(F.lit(1.0) - delta, F.lit(1.0) / n))
        .when(k == 0, F.lit(1.0) - F.pow(delta, F.lit(1.0) / n))
        .otherwise(F.lit(1.0) - _as26522(n - k, k + F.lit(1.0), z))
    )


def _sampling_adjuster(p: Column) -> Column:
    """jaccard_similarity.rs:334-341."""
    adj = F.sqrt(F.lit(1.0) - p)
    return F.when(p <= 0.5, adj).otherwise(adj + F.lit(0.01) * (p - F.lit(0.5)))


def theta_jaccard(a: Column, b: Column, num_std_devs: float = 2.0) -> Column:
    """(lower, estimate, upper) Jaccard triple of two sketch structs —
    JaccardSimilarity (jaccard_similarity.rs:46-111, union sizing at
    common/jaccard_similarity.rs:227-332) as one JVM expression.

    The reference sizes the union to ceil_pow2(|a|+|b|), which always
    exceeds the merged entry count, so the union NEVER truncates and
    theta_union == min(theta_a, theta_b) — the identity these expressions
    rely on. Edge cases mirror jaccard_similarity.rs:240-258: two
    never-updated sketches → exact (1,1,1); exactly one never-updated →
    exact (0,0,0); identical retained sets AND thetas → exact (1,1,1)
    even in estimation mode (the identical_sets shortcut); an empty
    screened union between updated sketches → (0, 0.5, 1); exact mode
    (p >= 1) collapses the triple to the ratio. "Never-updated" is
    proxied as retained == 0 AND theta == MAX (the struct carries no
    empty flag; an estimation-mode sketch that retained 0 entries has
    theta < MAX and correctly falls through to the ratio branches).
    Summaries never participate (tuple/jaccard_similarity.rs:75-101
    delegates to the same key-only operator), so this accepts theta AND
    tuple sketch structs alike.
    """
    theta = _min_theta(a, b)
    ua, ub = _screen(a["kmv"], theta), _screen(b["kmv"], theta)
    n_u = F.size(F.array_union(ua, ub)).cast("double")
    n_i = F.size(F.array_intersect(ua, ub)).cast("double")
    est = n_i / n_u
    p = theta.cast("double") / F.lit(float(MAX_THETA63))
    z = F.lit(float(num_std_devs)) * _sampling_adjuster(p)

    def _t(lo, mid, hi) -> Column:
        return F.struct(lo.alias("lower"), mid.alias("estimate"), hi.alias("upper"))

    return _jaccard_cases(a, b, n_u, n_i, est, p, z, _t)


def _never_updated(s: Column) -> Column:
    """Proxy for the reference's is_empty flag (which the struct does not
    carry): never-updated sketches in this engine always have retained == 0
    AND theta == MAX. An estimation-mode sketch that was updated but
    retained 0 entries has theta < MAX and is correctly NOT empty here."""
    return (F.size(s["kmv"]) == 0) & (s["theta"] == F.lit(MAX_THETA63))


def theta_exactly_equal(a: Column, b: Column) -> Column:
    """Sketch-state equality (jaccard_similarity.rs exactly_equal,
    :276-290): two never-updated sketches are equal; exactly one is
    unequal; otherwise retained hash keys AND theta must match (the
    identical_sets predicate, :322-334). Compares sketch state, not input
    populations; summaries never participate, so tuple structs work too."""
    ea, eb = _never_updated(a), _never_updated(b)
    return (
        F.when(ea & eb, F.lit(True))
        .when(ea | eb, F.lit(False))
        .otherwise((a["theta"] == b["theta"]) & (a["kmv"] == b["kmv"]))
    )


def _jaccard_cases(a, b, n_u, n_i, est, p, z, _t) -> Column:
    """Branch order mirrors JaccardSimilarityOperator::compute
    (jaccard_similarity.rs:240-258): empties first, then the non-empty-
    union identical_sets shortcut, then ratio_bounds. identical_sets sits
    AFTER the n_u == 0 branch so two updated zero-retained sketches get
    (0, 0.5, 1), not the shortcut (the reference guards the shortcut with
    !union.entries.is_empty())."""
    na, nb = _never_updated(a), _never_updated(b)
    identical = (a["theta"] == b["theta"]) & (a["kmv"] == b["kmv"])
    return (
        F.when(na & nb, _t(F.lit(1.0), F.lit(1.0), F.lit(1.0)))
        .when(na | nb, _t(F.lit(0.0), F.lit(0.0), F.lit(0.0)))
        .when(n_u == 0, _t(F.lit(0.0), F.lit(0.5), F.lit(1.0)))
        .when(identical, _t(F.lit(1.0), F.lit(1.0), F.lit(1.0)))
        .when(p >= 1.0, _t(est, est, est))
        .otherwise(
            _t(_lower_bound_on_p(n_u, n_i, z), est, _upper_bound_on_p(n_u, n_i, z))
        )
    )
