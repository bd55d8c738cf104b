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

A pair's two signatures reach one ``mapInArrow`` task as two adjacent
rows routed on the pair. The kernel is fully vectorized across a batch of
pairs: all signature arrays are read in place from the Arrow kmv value
buffers and concatenated into one value vector with pair ids, one lexsort
finds duplicate (pair, value) entries = per-pair intersection sizes. No
per-pair Python.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..config import PipelineConfig
from ..sigkit.arrow_buf import to_buf
from ..sigkit.kmv import MAX_THETA63

VERIFIED_SCHEMA = "sha_a binary, sha_b binary, jaccard_est double, accepted boolean"
_UNPAIRED = (
    "verify_pairs: a candidate pair did not meet exactly one payload row "
    "per side (duplicated or missing content_sha in reps)"
)


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

    One routed exchange: each pair's two side rows (sha_a, sha_b, side,
    content_sha) join ``reps``' (content_sha, minhash_kmv, theta64),
    repartition on (sha_a, sha_b) and sort on (sha_a, sha_b, side), so a
    pair's a-row and b-row reach one kernel task adjacent; the kernel
    streams its batches, carrying at most one a-row over a boundary.
    ``candidates`` is read once. ``broadcast``: the side rows (two narrow
    rows per pair; the pipeline measures the pair count) fit a broadcast,
    so they go into the payload scan and the ~2 KB kmv rows are read in
    place; otherwise they are the build side of a shuffle-hash join.
    Raises ``ValueError`` when the plan runs unless every pair meets
    exactly one payload row per side (e.g. ``reps`` with a duplicated or
    missing content_sha), rather than pair the wrong rows.
    """
    sides = candidates.select(
        "sha_a", "sha_b", F.posexplode(F.array("sha_a", "sha_b")).alias("side", "content_sha")
    )
    rows = (
        reps.select("content_sha", "minhash_kmv", "theta64")
        .join(F.broadcast(sides) if broadcast else sides.hint("shuffle_hash"), "content_sha")
        .select("sha_a", "sha_b", "side", "minhash_kmv", "theta64")
        .repartition("sha_a", "sha_b")
        .sortWithinPartitions("sha_a", "sha_b", "side")
    )

    threshold = cfg.jaccard_threshold
    k = cfg.kmv_k
    slack = 2.0  # NUM_STD_DEVS = 2.0, jaccard_similarity.rs:36

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        carry = None  # an a-row whose b-row opens the next batch
        for rb in batches:
            if carry is not None:
                rb = pa.Table.from_batches([carry, rb]).combine_chunks().to_batches()[0]
            # sides must alternate 0, 1 and each (even, odd) couple share
            # the pair key
            n = rb.num_rows
            if (rb.column("side").to_numpy() != np.arange(n) % 2).any():
                raise ValueError(_UNPAIRED)
            carry = rb.slice(n - 1) if n % 2 else None
            if n < 2:
                continue
            a, b = rb.take(np.arange(0, n - 1, 2)), rb.take(np.arange(1, n, 2))
            if not all(a.column(c).equals(b.column(c)) for c in ("sha_a", "sha_b")):
                raise ValueError(_UNPAIRED)
            ta = a.column("theta64").to_numpy()
            tb = b.column("theta64").to_numpy()
            j = jaccard_batch(a.column("minhash_kmv"), ta, b.column("minhash_kmv"), tb)
            estimating = (ta < MAX_THETA63) | (tb < MAX_THETA63)
            sigma = np.sqrt(np.clip(j * (1.0 - j), 0.0, None) / k)
            ub = np.where(estimating, j + slack * sigma, j)
            yield pa.RecordBatch.from_arrays(
                [a.column("sha_a"), a.column("sha_b"), pa.array(j), pa.array(ub >= threshold)],
                ["sha_a", "sha_b", "jaccard_est", "accepted"],
            )
        if carry is not None:
            raise ValueError(_UNPAIRED)

    return rows.mapInArrow(run, schema=VERIFIED_SCHEMA)
