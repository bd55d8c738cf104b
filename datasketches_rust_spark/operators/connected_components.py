"""Stage 4 — connected components: one-task union-find, or the iterative
large-star/small-star joins when the node set outgrows one task.

``union_find_components`` (the pipeline's default) ships the edge list to
ONE task as Arrow batches and runs the vectorized hook-and-compress kernel
of ``sigkit/union_find`` there: a fixed handful of Spark jobs whatever the
graph's diameter. The pipeline takes it whenever the rep-key set fits the
broadcast budget (``cfg.broadcast_key_limit``) — the graph's nodes are a
subset of the rep keys, so the same measured bound that lets the key set
live in one place bounds this task's memory.

``connected_components`` is the two-phase DataFrame-join formulation of
Kiveris et al., "Connected Components in MapReduce and Beyond" (SOCC'14):
every iteration is a bounded number of shuffles on node ids, converges in
O(log^2 n) rounds (2-4 rounds in practice for near-dup clusters, whose
diameter is tiny), and never materializes a component in one task — so it
survives clusters of any size. The pipeline's shuffle fallback (rep keys
beyond the broadcast budget) runs it, and tests hold the union-find to it
as the reference. Its cost is scheduling, not data: each iteration is ~6
shuffle stages plus a lineage cut, and AQE submits each shuffle stage as
its own job (25 jobs for a 3-iteration run on a ~1k-edge graph).

Node ids are 32-byte binary content_shas: globally unique at any corpus
scale (no 64-bit-collision risk at 10^12 files) and the component minimum
under byte-wise binary ordering equals the minimum of the hex rendering —
exactly FIXTURES.md F4's cluster_id = min content_sha. Both algorithms
label a component with that minimum, so their outputs are identical.

Each Kiveris iteration ends with a lineage cut (localCheckpoint, or parquet
round-trip when a checkpoint dir is provided) — iterative plans otherwise
grow Catalyst lineage exponentially. Convergence is detected by an
order-insensitive fingerprint (count + sum of pair hashes) that rides the
materialization action itself via ``DataFrame.observe`` — no separate
fingerprint job per iteration.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, functions as F

from ..plans.session import as_read_back
from ..sigkit.arrow_buf import binary_array, to_buf
from ..sigkit.union_find import union_find

ASSIGN_SCHEMA = "node binary, component binary"
_OUT_ROWS = 1 << 20  # rows per emitted batch: 32 MB of 32-byte keys per column


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect strictly-larger neighbors of u to min(N(u) ∪ {u})."""
    nbrs = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", "u").alias("m")).hint("shuffle_hash")
    # no distinct here: duplicate edges don't change small_star's mins and
    # its own distinct cleans the final set — saves one exchange/iteration
    return (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect all smaller-or-equal neighbors of u (and u) to the minimum."""
    canon = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = canon.groupBy("u").agg(F.min("v").alias("m")).hint("shuffle_hash")
    via_nbrs = (
        canon.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )
    self_edge = mins.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return via_nbrs.unionByName(self_edge).distinct()


def _cut_lineage(df: DataFrame, checkpoint_dir: str | None, tag: str) -> DataFrame:
    """Materialize + truncate lineage. The action taken here (eager
    localCheckpoint or parquet write) is the ONLY action of an iteration —
    the convergence fingerprint rides it as an observed metric, and the
    write is read back with the schema it was written with, so no footer
    job runs (AQE still runs each of the iteration's exchanges as a job)."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=True)
    path = f"{checkpoint_dir}/cc_{tag}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(as_read_back(df.schema)).parquet(path)


def connected_components(
    edges: DataFrame,
    checkpoint_dir: str | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """edges(src, dst) → assignments(node, component) with component = min id.

    Deterministic: output depends only on the input edge *set*.
    """
    # the edge set is tiny relative to the corpus (dedup graphs: a few % of
    # rows), but each iteration is ~6 shuffle stages — with parallelism-
    # first AQE coalescing each schedules defaultParallelism tasks of a few
    # ms, and scheduling dominates. Scope size-first coalescing to the loop
    # (iterations materialize eagerly inside it), restoring after.
    spark = edges.sparkSession
    _PF = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    pf_old = spark.conf.get(_PF, "true")
    spark.conf.set(_PF, "false")
    try:
        e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
        e = _cut_lineage(e, checkpoint_dir, "init")
        prev = None
        for it in range(max_iter):
            e = _small_star(_large_star(e))
            # the order-insensitive fingerprint is an observed metric on
            # the iteration's own materialization action (eager checkpoint
            # or parquet write) — obs.get returns instantly afterwards, so
            # convergence detection adds zero jobs
            obs = Observation(f"cc_fp_{it}")
            e = e.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
            )
            e = _cut_lineage(e, checkpoint_dir, f"iter{it % 2}")
            row = obs.get
            fp = (row["n"], row["h"])
            if fp == prev:
                break
            prev = fp
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} iterations"
            )
    finally:
        spark.conf.set(_PF, pf_old)

    # converged state: every edge points a node at its component root
    assign = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = assign.select(F.col("component").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return assign.unionByName(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )


def _fixed_width_keys(col: pa.Array) -> np.ndarray:
    """Zero-copy ``S<w>`` view of a binary column whose values all have one
    width (the 32-byte content_sha)."""
    if col.null_count:
        raise ValueError("union_find_components: null node id")
    buf, off = to_buf(col)
    width = len(buf) // max(len(col), 1)
    if width == 0 or not (np.diff(off) == width).all():
        raise ValueError("union_find_components: node ids must share one nonzero width")
    return buf.view(f"S{width}")


def _key_array(keys: np.ndarray) -> pa.Array:
    return binary_array(keys, np.arange(len(keys) + 1))


def _union_find_task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    src, dst = [], []
    for b in batches:
        if b.num_rows:
            src.append(_fixed_width_keys(b.column("src")))
            dst.append(_fixed_width_keys(b.column("dst")))
    if not src:
        return
    nodes, comp, _ = union_find(np.concatenate(src), np.concatenate(dst))
    for i in range(0, len(nodes), _OUT_ROWS):
        yield pa.RecordBatch.from_arrays(
            [_key_array(nodes[i:i + _OUT_ROWS]), _key_array(comp[i:i + _OUT_ROWS])],
            ["node", "component"],
        )


def union_find_components(edges: DataFrame) -> DataFrame:
    """edges(src, dst) → assignments(node, component), component = min id —
    the same relation as ``connected_components``, computed in ONE task.

    Node ids must be non-null binary values of one width (content_shas).
    The whole edge list and its node set are held by that task, so callers
    must know the node set fits one executor; a materialized ``edges``
    costs no extra shuffle (``coalesce(1)`` is a narrow dependency).
    """
    return edges.select("src", "dst").coalesce(1).mapInArrow(_union_find_task, ASSIGN_SCHEMA)
