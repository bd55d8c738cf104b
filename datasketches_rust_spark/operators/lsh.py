"""Stage 2 — LSH candidate generation with explicit skew handling.

Plan shape (all DataFrame ops; the key rows shuffle once, on the band key):

1. **Exact-dedup first**: collapse byte-identical files to one
   representative per ``content_sha`` *before* LSH. Mega duplicate families
   (the classic source of LSH bucket skew — 10^6 copies of one license
   file) become a single node, so they cannot create hot buckets at all.
2. ``posexplode(bands)`` → ``(band, bhash, content_sha)`` key rows.
3. ``capped_bucket_pairs`` (operators/buckets.py): repartition on
   ``(band, bhash)``, then one Arrow kernel task per partition sorts its
   rows into bucket runs and emits
   - all pairs of a bucket with ≤ cfg.max_bucket_size members;
   - for a bigger bucket, a star to the bucket minimum: O(n) instead of
     O(n²) pairs. Connectivity (what the downstream connected-components
     stage consumes) is preserved, because a bucket is a clique candidate
     and a star spans it.

The bucket cap is the same "decorrelate placement, bound the damage" move
as the reference's stride probing (common/hash_table.rs:425-427) and its
k-truncation of unions (common/union.rs:130-135): bound worst-case work at
a small, quantified accuracy cost — pair-level candidates lost by the star
are recovered at cluster level via the hub.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def exact_rep_keys(ids: DataFrame) -> DataFrame:
    """Narrow rep-key table: (content_sha, rep_file_id).

    The representative of each distinct content is its min file_id,
    chosen with a scalar-only HashAggregate (map-side combined, ~60 B/row
    shuffle). Deliberately NOT ``agg(first(minhash_kmv), ...)``:
    ``first()`` over array columns forces a SortAggregate that sorts the
    full 2KB signature rows — measured as the single largest shuffle cost
    of the pipeline. Identical contents have identical signatures, so the
    min-file_id pick only provides determinism; the payload attaches
    later, in one join (``rep_payload``).
    """
    return ids.groupBy("content_sha").agg(F.min("file_id").alias("rep_file_id"))


def has_duplicate_id_rows(ids: DataFrame) -> bool:
    """True if any (content_sha, file_id) pair appears more than once —
    i.e. the corpus carried duplicate (repo, path, commit) rows.

    Kept only for ``perfbench/tracing.py``, whose ``Tracer.operators()``
    reads and rebinds ``plans.pipeline.has_duplicate_id_rows``; nothing in
    the package calls it. The pipeline detects duplicate input rows from
    the reps stage's row count instead, at no extra job. Groups on
    xxhash64(sha, fid): a collision can only report a false duplicate,
    never miss a real one.
    """
    return (
        ids.groupBy(F.xxhash64("content_sha", "file_id").alias("__k"))
        .count()
        .where(F.col("count") > 1)
        .count()
        > 0
    )


def rep_payload(
    signatures: DataFrame,
    keys: DataFrame,
    payload_cols: list[str],
    *,
    broadcast: bool,
) -> DataFrame:
    """(content_sha, *payload_cols) of each representative's signature row,
    derived by joining the already-materialized signature table against
    the narrow rep-key set. One row per key, unless a representative's
    (content_sha, file_id) row repeats in ``signatures`` (duplicate input
    rows): then one row per copy, so the result holds more rows than
    ``keys``.

    ``broadcast=True``: the (content_sha, rep_file_id) key set broadcasts
    into the signature scan (BroadcastHashJoin), so the wide kmv/band
    payload is scanned in place and crosses no exchange.
    ``broadcast=False``: a shuffle-hash join with the narrow keys as BUILD
    side (never the 2KB signature rows, whose per-partition hash map
    cannot spill and OOMs at ~1.5M+ files) — one wide exchange.
    ``DedupPipeline`` materializes the result once as its reps stage,
    read by candidates and verify, and broadcasts iff the measured
    rep-key count is at most ``cfg.broadcast_key_limit`` (~100 B per key).
    """
    k = keys.select("content_sha", "rep_file_id")
    k = F.broadcast(k) if broadcast else k.hint("shuffle_hash")
    s, k = signatures.alias("s"), k.alias("k")
    return s.join(
        k,
        (F.col("s.content_sha") == F.col("k.content_sha"))
        & (F.col("s.file_id") == F.col("k.rep_file_id")),
    ).select(F.col("k.content_sha"), *[F.col(f"s.{c}") for c in payload_cols])


def exact_pairs(ids: DataFrame, rep_map: DataFrame) -> DataFrame:
    """Star pairs inside each exact-duplicate group (J = 1 by definition).

    ``rep_map`` is the (content_sha, rep_file_id) table of
    ``exact_rep_keys``. Emitted at file level: (rep, file_id) for every
    non-representative copy.
    """
    return (
        ids.join(rep_map, "content_sha")
        .where(F.col("file_id") != F.col("rep_file_id"))
        .select(
            F.col("rep_file_id").alias("file_id_a"),
            F.col("file_id").alias("file_id_b"),
            F.lit(1.0).alias("jaccard_est"),
            F.lit("exact").alias("kind"),
        )
    )


def candidate_pairs(reps: DataFrame, cfg) -> DataFrame:
    """Distinct candidate (content_sha_a < content_sha_b) pairs via LSH.

    Delegates skew handling to the shared cap+star machinery
    (operators/buckets.py), keyed on the exact ``(band, bhash)`` pair: a
    bucket flips from all pairs to a star only when it really holds more
    than ``cfg.max_bucket_size`` members. No distinct pre-aggregation is
    needed on the key rows: posexplode emits exactly one row per
    (content_sha, band), so the key rows are already distinct.
    """
    from .buckets import capped_bucket_pairs

    keys = reps.where(F.size("bands") > 0).select(
        "content_sha", F.posexplode("bands").alias("band", "bhash")
    )
    return capped_bucket_pairs(
        keys, ["band", "bhash"], "content_sha", cfg.max_bucket_size
    ).select(F.col("id_a").alias("sha_a"), F.col("id_b").alias("sha_b"))
