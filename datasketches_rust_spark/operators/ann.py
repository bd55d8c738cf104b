"""Similarity search over embedding columns.

``ann_topk_bruteforce``: exact cosine top-k of a (small) query set against
the corpus — broadcast cross join + JVM fold for the dot product + window
top-k. This is the oracle-checkable baseline; it stays entirely in
whole-stage codegen (``zip_with``/``aggregate`` expressions, no UDF).

``ann_topk_lsh``: the scale path — random-hyperplane (SimHash) bucketing
of vectors; queries only score candidates sharing a hyperplane-sign band,
turning the cross join into an equi-join. Probabilistic recall; the
brute-force op is its correctness oracle at test scale.

Every operator here scores with one cosine expression (``_cosine``) and
the three top-k operators rank with one window (``_top_k``); each only
builds its own candidate relation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..sigkit.arrow_buf import list_values

# (id, double vector, norm) column names of the two top-k sides
_Q = ("query_id", "__q", "__qn")
_V = ("neighbor_id", "__v", "__vn")


def _as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _side(df: DataFrame, id_col: str, vec_col: str, names, *extra: Column) -> DataFrame:
    """``df`` as (id, double vector, norm) columns named by ``names``, with
    ``extra`` columns between the vector and its norm."""
    i, v, n = names
    return df.select(
        F.col(id_col).alias(i), _as_double(F.col(vec_col)).alias(v), *extra
    ).withColumn(n, _norm(F.col(v)))


def _cosine(a, b) -> Column:
    """Cosine of the (vector, norm) columns ``a`` and ``b``, rounded to 9
    decimals so rankings and thresholds are reproducible across engines."""
    return F.round(_dot(F.col(a[0]), F.col(b[0])) / (F.col(a[1]) * F.col(b[1])), 9)


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, rank, cosine): the k best-scoring neighbors
    per query of a candidate relation holding both sides' ``_Q``/``_V``
    columns; self pairs are dropped and ties break on neighbor id."""
    scored = pairs.where(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", _cosine(_Q[1:], _V[1:]).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ann_topk_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, rank, cosine) — exact top-k by cosine.

    Cosine is rounded to 9 decimals before ranking and ties break on
    neighbor id, so the ranking is reproducible across engines.
    """
    v = _side(vectors, id_col, vec_col, _V)
    q = _side(queries, id_col, vec_col, _Q)
    return _top_k(v.crossJoin(F.broadcast(q)), k)


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _sign_bands(vec_col: Column, planes: np.ndarray, band_bits: int) -> Column:
    """Array of band codes: hyperplane sign bits grouped band_bits at a time."""
    n_planes = planes.shape[0]
    bits = [
        F.when(
            _dot(_as_double(vec_col), F.array([F.lit(float(w)) for w in planes[i]])) >= 0,
            F.lit(1),
        ).otherwise(F.lit(0))
        for i in range(n_planes)
    ]
    bands = []
    for b in range(n_planes // band_bits):
        code = F.lit(0)
        for j in range(band_bits):
            code = code * 2 + bits[b * band_bits + j]
        bands.append((code + F.lit(b * (1 << band_bits))).cast("long"))
    return F.array(bands)


def embedding_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 64,
    band_bits: int = 8,
    seed: int = 9001,
    max_bucket: int = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= threshold).

    Scale path: random-hyperplane LSH for candidates (a pair at cosine c
    collides per band with prob (1 - acos(c)/pi)^band_bits; defaults give
    ~99% recall at c=0.95), then exact cosine verify — the embedding analog
    of MinHash-LSH + Jaccard verify. The band join carries ids only through
    the shared cap+star machinery (operators/buckets.py); vectors are
    re-attached to the distinct pair set for the verify.

    Output is pair-COMPLETE only while every band bucket has <= max_bucket
    members (same contract as simhash_pairs): an over-cap bucket emits only
    hub-star candidates, and star edges that fail the cosine verify leave
    their members unpaired — fine for the dedup pipeline (connected
    components re-links via the hub) but NOT for a standalone all-pairs
    query. Callers needing completeness must pass a max_bucket provably
    above any bucket size at their scale (see _q_embedding_dup_pairs_lsh).
    """
    planes = _hyperplanes(dim, n_planes, seed)
    keys = vectors.select(
        F.col(id_col).alias("__id"),
        F.explode(_sign_bands(F.col(vec_col), planes, band_bits)).alias("__band"),
    )
    from .buckets import capped_bucket_pairs

    pairs = capped_bucket_pairs(keys, ["__band"], "__id", max_bucket)
    va = _side(vectors, id_col, vec_col, ("id_a", "va", "na"))
    vb = _side(vectors, id_col, vec_col, ("id_b", "vb", "nb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            F.col("id_a").alias(f"{id_col}_a"),
            F.col("id_b").alias(f"{id_col}_b"),
            _cosine(("va", "na"), ("vb", "nb")).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def _ivf_centroids(sample: np.ndarray, n_lists: int, iters: int, seed: int) -> np.ndarray:
    """Deterministic Lloyd k-means over a driver-side sample (numpy).

    The sample is a few thousand vectors regardless of corpus size, so the
    driver step is O(sample × n_lists × iters) and constant at 100 TB; the
    corpus itself is only ever touched distributively.
    """
    rng = np.random.default_rng(seed)
    n = len(sample)
    cent = sample[rng.choice(n, size=min(n_lists, n), replace=False)].astype(np.float64)
    for _ in range(iters):
        # cosine assignment on normalized vectors == max dot product
        sims = sample @ cent.T
        assign = sims.argmax(axis=1)
        for j in range(len(cent)):
            members = sample[assign == j]
            if len(members):
                c = members.mean(axis=0)
                norm = np.linalg.norm(c)
                if norm > 0:
                    cent[j] = c / norm
    return cent


def _nearest_lists(vec_col: Column, cent: np.ndarray, n: int) -> Column:
    """Array of the n list-ids with the highest centroid dot product —
    pure JVM: one fold per centroid, then a rank-by-score slice."""
    scored = F.array(
        [
            F.struct(
                _dot(
                    _as_double(vec_col),
                    F.array([F.lit(float(x)) for x in cent[j]]),
                ).alias("s"),
                F.lit(j).alias("l"),
            )
            for j in range(len(cent))
        ]
    )
    top = F.slice(F.reverse(F.array_sort(scored)), 1, n)
    return F.transform(top, lambda e: e["l"])


def ann_topk_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    nprobe: int = 4,
    sample_size: int = 4096,
    kmeans_iters: int = 8,
    seed: int = 9001,
) -> DataFrame:
    """IVF approximate cosine top-k — the inverted-file scale path beside
    the hyperplane-LSH one.

    Coarse quantizer: k-means centroids fit on a driver-side sample
    (deterministic, seed-pinned), broadcast into JVM expressions. Each
    corpus vector lands in exactly ONE inverted list (its nearest
    centroid); each query probes its ``nprobe`` nearest lists, so the
    scored candidate set is ~nprobe/n_lists of the corpus and the join is
    an equi-join on the list id. Recall rises with nprobe (nprobe ==
    n_lists degenerates to exact brute force). Unlike the LSH variant
    there is no banding blow-up: corpus-side storage is one row per
    vector.
    """
    # seeded, order-independent sample: take the sample_size smallest rows
    # by a salted hash of the id (TakeOrdered — per-partition top-N + merge,
    # no full sort). Unlike limit(), which returns whichever rows arrive
    # first (biased on corpora ordered/clustered by content, and unstable
    # across partition layouts), this is uniform over ids and reproducible
    # for a given (corpus, seed); the id tie-break pins duplicate hashes.
    sample_vals, sample_offs = list_values(
        vectors.select(F.col(id_col).alias("__sid"), _as_double(F.col(vec_col)).alias("v"))
        .orderBy(F.xxhash64("__sid", F.lit(seed)), F.col("__sid"))
        .limit(sample_size)
        .toArrow()
        .column("v")
    )
    sample = sample_vals.reshape(len(sample_offs) - 1, -1)
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    sample = sample / np.where(norms == 0, 1.0, norms)
    cent = _ivf_centroids(sample, n_lists, kmeans_iters, seed)

    v = _side(
        vectors,
        id_col,
        vec_col,
        _V,
        F.element_at(_nearest_lists(F.col(vec_col), cent, 1), 1).alias("__list"),
    )
    q = _side(
        queries,
        id_col,
        vec_col,
        _Q,
        F.explode(_nearest_lists(F.col(vec_col), cent, nprobe)).alias("__list"),
    )
    return _top_k(v.join(F.broadcast(q), "__list"), k)


def ann_topk_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 64,
    band_bits: int = 4,
    seed: int = 9001,
    max_bucket: int = 100_000,
) -> DataFrame:
    """Approximate cosine top-k: candidates share >= 1 hyperplane-sign band.

    The band join carries (query_id, neighbor_id) only; vectors are
    re-attached to the distinct candidate set before scoring, so the
    shuffle payload is two ids per row. Buckets with more than
    ``max_bucket`` corpus members are dropped from candidate generation —
    a band code shared by a huge corpus fraction has no selectivity, and
    dropping it bounds per-query candidate volume.
    """
    planes = _hyperplanes(dim, n_planes, seed)

    # bucket sizes over the same exploded relation: the corpus bands once
    vkeys = (
        vectors.select(
            F.col(id_col).alias("neighbor_id"),
            F.explode(_sign_bands(F.col(vec_col), planes, band_bits)).alias("__band"),
        )
        .withColumn("__bn", F.count(F.lit(1)).over(Window.partitionBy("__band")))
        .where(F.col("__bn") <= max_bucket)
        .drop("__bn")
    )
    qkeys = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(_sign_bands(F.col(vec_col), planes, band_bits)).alias("__band"),
    )
    cands = (
        vkeys.join(F.broadcast(qkeys), "__band")
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    v = _side(vectors, id_col, vec_col, _V)
    q = _side(queries, id_col, vec_col, _Q)
    return _top_k(cands.join(v, "neighbor_id").join(F.broadcast(q), "query_id"), k)
