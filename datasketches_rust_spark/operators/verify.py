"""Stage 3 — Jaccard verification of candidate pairs.

Computes the theta-sketch Jaccard estimate for every candidate pair from
the k-min signatures alone (no second scan of file contents), replicating
``/root/reference/datasketches/src/thetafamily/common/jaccard_similarity.rs
:227-332``: combined theta = min of the pair's thetas, union capacity sized
to |A|+|B| (so it never truncates for k-bounded signatures), estimate =
|A∩B∩U| / |U|; exact whenever both sides are exact-mode sketches.

Acceptance uses the *upper confidence bound* (est + slack·sigma, sigma =
sqrt(J(1-J)/k)) when either side is an estimating sketch — the
no-false-negatives mode of the reference's frequent-items thresholds
(frequencies/sketch.rs:394-430, ErrorType::NoFalseNegatives) applied to
the recall>=0.99 contract. Exact-mode pairs are thresholded exactly.

The kernel is fully vectorized across a batch of pairs: all signature
arrays are read in place from the Arrow batch's kmv value buffers and
concatenated into one value vector with pair ids, one lexsort finds
duplicate (pair, value) entries = per-pair intersection sizes. No per-pair
Python.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..config import PipelineConfig
from ..sigkit.arrow_buf import to_buf

VERIFIED_SCHEMA = "sha_a binary, sha_b binary, jaccard_est double, accepted boolean"


def _kmv_values(kmv) -> tuple[np.ndarray, np.ndarray]:
    """(int64 hashes, (n+1,) per-pair offsets) of a kmv column — an Arrow
    binary array read zero-copy, or a sequence of bytes converted once."""
    if not isinstance(kmv, pa.Array):
        kmv = pa.array(kmv, pa.binary())
    buf, offs = to_buf(kmv)
    return buf.view("<u8").view(np.int64), offs // 8


def jaccard_batch(kmv_a, theta_a: np.ndarray, kmv_b, theta_b: np.ndarray) -> np.ndarray:
    """Vectorized pairwise theta-Jaccard for a batch of pairs.

    ``kmv_a``/``kmv_b`` hold binary blobs of little-endian uint64 sorted
    hashes (the signature column's packed form), as Arrow binary arrays
    (read in place from their value and offset buffers) or as sequences
    of bytes.
    """
    n = len(theta_a)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    va, oa = _kmv_values(kmv_a)
    vb, ob = _kmv_values(kmv_b)
    la, lb = np.diff(oa), np.diff(ob)
    theta = np.minimum(theta_a, theta_b).astype(np.int64)

    vals = np.concatenate([va, vb])
    pid = np.concatenate([np.repeat(np.arange(n), la), np.repeat(np.arange(n), lb)])

    keep = vals < np.concatenate([np.repeat(theta, la), np.repeat(theta, lb)])
    vals, pid = vals[keep], pid[keep]

    order = np.lexsort((vals, pid))
    vals, pid = vals[order], pid[order]
    dup = np.zeros(len(vals), dtype=bool)
    if len(vals) > 1:
        dup[1:] = (pid[1:] == pid[:-1]) & (vals[1:] == vals[:-1])

    inter = np.bincount(pid[dup], minlength=n).astype(np.float64)
    total = np.bincount(pid, minlength=n).astype(np.float64)
    union = total - inter
    # both sides empty below theta → identical-empty shortcut: J = 1
    # (jaccard_similarity.rs:323-332)
    j = np.where(union > 0, inter / np.maximum(union, 1.0), 1.0)
    return j


def verify_pairs(
    candidates: DataFrame, reps: DataFrame, cfg: PipelineConfig, *, broadcast: bool
) -> DataFrame:
    """candidates(sha_a, sha_b) → (sha_a, sha_b, jaccard_est, accepted).

    ``broadcast``: whether the candidate-sha set fits a broadcast. The
    pipeline passes its rep-key decision, since candidate shas are a
    subset of the rep keys. When True, ``candidates`` is consumed three
    times (the cand-sha set plus both pair joins) — pass a materialized
    relation (the pipeline checkpoints its candidates stage); an
    unmaterialized band-join chain would be replayed per consumer.
    """
    sigs = reps.select("content_sha", "minhash_kmv", "theta64", "n_shingles")
    # semi-join pushdown: the pair joins shuffle the kmv payload on BOTH
    # sides, but only shas that actually occur in a candidate pair are
    # needed — broadcast the (small) candidate-sha set into the payload
    # scan so the wide exchange carries just those rows (candidates are a
    # small corpus fraction by construction: they passed LSH banding).
    # Without the broadcast the full payload shuffles.
    if broadcast:
        cand_shas = (
            candidates.select(F.col("sha_a").alias("content_sha"))
            .unionByName(candidates.select(F.col("sha_b").alias("content_sha")))
            .distinct()
        )
        # materialize the pruned payload ONCE: it feeds both pair joins,
        # and without the cut the (sigs scan + semi-join) subplan runs
        # twice. Bounded by the candidate-sha set — the same small
        # fraction the broadcast gate already assumes — so the cached
        # relation is executor-resident and spillable; the no-pushdown
        # branch below deliberately stays lazy (materializing the FULL
        # wide payload would re-create the round-3 reps exchange).
        sigs = sigs.join(
            F.broadcast(cand_shas), "content_sha", "left_semi"
        ).localCheckpoint(eager=True)
    # Join 1: SHUFFLE_HASH with the BUILD side on the narrow pair relation
    # — the 2KB-wide signature rows stream through unsorted and are never
    # held in a hash map (a wide build side cannot spill and OOMs).
    # Join 2's left side is already wide (it carries kmv_a), so no hint:
    # AQE picks by runtime stats there.
    joined = (
        candidates.hint("shuffle_hash")
        .join(
            sigs.select(
                F.col("content_sha").alias("sha_a"),
                F.col("minhash_kmv").alias("kmv_a"),
                F.col("theta64").alias("theta_a"),
                F.col("n_shingles").alias("n_a"),
            ),
            "sha_a",
        )
        .join(
            sigs.select(
                F.col("content_sha").alias("sha_b"),
                F.col("minhash_kmv").alias("kmv_b"),
                F.col("theta64").alias("theta_b"),
                F.col("n_shingles").alias("n_b"),
            ),
            "sha_b",
        )
    )

    threshold = cfg.jaccard_threshold
    k = cfg.kmv_k
    slack = 2.0  # NUM_STD_DEVS = 2.0, jaccard_similarity.rs:36
    max_theta = (1 << 63) - 1

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if not rb.num_rows:
                continue
            ta = rb.column("theta_a").to_numpy()
            tb = rb.column("theta_b").to_numpy()
            j = jaccard_batch(rb.column("kmv_a"), ta, rb.column("kmv_b"), tb)
            estimating = (ta < max_theta) | (tb < max_theta)
            sigma = np.sqrt(np.clip(j * (1.0 - j), 0.0, None) / k)
            ub = np.where(estimating, j + slack * sigma, j)
            yield pa.RecordBatch.from_arrays(
                [rb.column("sha_a"), rb.column("sha_b"), pa.array(j), pa.array(ub >= threshold)],
                ["sha_a", "sha_b", "jaccard_est", "accepted"],
            )

    return joined.mapInArrow(run, schema=VERIFIED_SCHEMA)
