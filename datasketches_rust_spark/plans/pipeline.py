"""End-to-end dedup pipeline: signatures → LSH → verify → clusters.

Mirrors the reference's map-then-merge contract at plan level: stage 1 is
the per-partition "update" kernel (map-side only), stages 2-4 are the
commutative merges (shuffle on content_sha / band keys), and every stage
boundary is a serialized compact form (parquet checkpoint ≙ the
CompactThetaSketch exchange path, theta/sketch.rs:443-491).

One decision, made once, picks the plan of every key-bound stage: the
measured rep-key count against ``cfg.broadcast_key_limit``, the only plan
setting. Within the limit, the narrow key set is broadcast into the
signature scan for each payload attach, verify broadcasts its side rows
(if twice the measured pair count fits too), and connected components
run as one vectorized union-find task (``union_find_components``): the
graph's nodes are a subset of the rep keys, so the same bound covers that
task's memory, and the stage costs a fixed handful of jobs instead of ~6
per Kiveris iteration. Beyond the limit, all three take shuffle plans: a
materialized reps stage, a shuffle-hash verify join and the iterative
large-star/small-star ``connected_components``, which never holds a
component in one task.

Checkpoint/resume: each stage writes to ``<dir>/<stage>/<sha256(fp)>``,
named by its fingerprint, and is reused exactly when that directory's
``_SUCCESS`` exists. The fingerprint chains the upstream stage's
fingerprint with exactly the config parameters the stage itself reads
(``STAGE_PARAMS``; the signatures stage reads those of ``cfg_hash``) — the
pipeline-level analog of the reference's seed-hash compatibility check
(hash/seed.rs:42-55): a resumed run whose config or upstream changed
anything a stage's output depends on finds no checkpoint under the new
name and recomputes it (clearing ``<dir>/<stage>`` first, so one copy per
stage stays), while stages upstream of the change are reused. The row
count of a written stage is observed by its own write job. ``_metrics``
accumulates per-stage (stage, rows_out, input_fingerprint, reused)
(map-then-merge accounting, FIXTURES.md F5).
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..config import PipelineConfig
from ..operators.connected_components import (
    connected_components,
    union_find_components,
)
from ..operators.lsh import (
    candidate_pairs,
    exact_pairs,
    exact_rep_keys,
    has_duplicate_id_rows,
    rep_payload,
)
from ..operators.signatures import compute_signatures, file_id
from ..operators.substring import containment_pairs
from ..operators.verify import verify_pairs
from .session import as_read_back

# PipelineConfig fields each stage reads beyond its upstream's output; the
# signatures stage reads exactly the cfg_hash fields. The execution-only
# broadcast_key_limit shapes plans, never outputs.
STAGE_PARAMS = {
    "candidates": ("max_bucket_size",),
    "verified": ("jaccard_threshold",),
}


def assign_clusters(
    ids: DataFrame,
    edges: DataFrame,
    single_task: bool,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """ids(file_id, content_sha) + accepted edges(src, dst) →
    clusters(file_id, content_sha, cluster_id) in lowercase hex;
    cluster_id = min content_sha of the file's component, a file on no
    edge is its own cluster.

    ``single_task``: the node set is known to fit one task (the rep keys
    fit the broadcast budget) — components come from the one-task
    union-find and are broadcast into the ids scan. Otherwise the Kiveris
    join loop computes them and a plain join attaches them.
    """
    if single_task:
        assign = F.broadcast(union_find_components(edges))
    else:
        assign = connected_components(edges, checkpoint_dir=checkpoint_dir)
    return (
        ids
        .join(assign.withColumnRenamed("node", "content_sha"), "content_sha", "left")
        .select(
            "file_id",
            # render the binary keys as the usual lowercase hex at the
            # output boundary (identical to sha2's text form)
            F.lower(F.hex("content_sha")).alias("content_sha"),
            F.lower(F.hex(F.coalesce("component", "content_sha"))).alias("cluster_id"),
        )
    )


def _rows(rows) -> int:
    """A stage's row count: as counted, or as its materializing job observed."""
    return rows.get["n"] if isinstance(rows, Observation) else rows


class DedupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig | None = None,
        checkpoint_dir: str | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or PipelineConfig()
        self.dir = checkpoint_dir
        # (stage, rows_out or Observation, fp, reused, wall_s)
        self.metrics: list[tuple] = []

    # ------------------------------------------------------------ checkpoints

    def _fingerprint(self, name: str, upstream_fp: str) -> str:
        if name == "signatures":
            params = str(self.cfg.cfg_hash())
        else:
            params = ",".join(f"{k}={getattr(self.cfg, k)!r}" for k in STAGE_PARAMS.get(name, ()))
        return f"{params}|{upstream_fp}|{name}"

    def _stage(
        self, name: str, upstream_fp: str, compute, materialize: bool = True
    ) -> tuple[DataFrame, str]:
        """Run or resume one stage; returns (df, fingerprint)."""
        t0 = time.monotonic()
        fp = self._fingerprint(name, upstream_fp)
        if self.dir is None:
            # no durable checkpoint: cut lineage EAGERLY so every downstream
            # consumer — including broadcast-subquery jobs, which Spark runs
            # before the main job and which would otherwise recompute the
            # whole upstream chain — reads this stage's materialized blocks
            # (measured: eager per-stage checkpoints beat the lazy variant
            # by ~35s on the 600k-file bench at 16 cores). Single-consumer
            # stages can opt out (materialize=False) and flow straight into
            # their consumer's aggregation. The checkpoint job also counts
            # the rows (an observed metric), so ``_stage_rows`` runs no job.
            df = compute()
            if materialize:
                rows = Observation()
                df = df.observe(rows, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
                self.metrics.append((name, rows, fp, False, time.monotonic() - t0))
            return df, fp
        stage_dir = f"{self.dir}/{name}"
        path = f"{stage_dir}/{hashlib.sha256(fp.encode()).hexdigest()}"
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            df = self.spark.read.parquet(path)
            self.metrics.append((name, df.count(), fp, True, time.monotonic() - t0))
            return df, fp
        # any other checkpoint of this stage (another fingerprint, an
        # unfinished write, the old unnamed layout) is stale
        if os.path.exists(stage_dir):
            shutil.rmtree(stage_dir)
        rows = Observation()
        df = compute().observe(rows, F.count(F.lit(1)).alias("n"))
        df.write.parquet(path)
        self.metrics.append((name, rows, fp, False, time.monotonic() - t0))
        return self.spark.read.schema(as_read_back(df.schema)).parquet(path), fp

    def flush_metrics(self) -> None:
        if self.dir is None or not self.metrics:
            return
        self.spark.createDataFrame(
            [(name, _rows(rows), fp, reused) for name, rows, fp, reused, _ in self.metrics],
            "stage string, rows_out long, input_fingerprint string, reused boolean",
        ).write.mode("append").parquet(f"{self.dir}/_metrics")
        self.metrics = []

    # ------------------------------------------------------------ stages

    def _dedup_stages(self, corpus: DataFrame, input_fp: str):
        """The stage chain up to verification: signatures, ids, rep_keys,
        candidates and verified.

        Returns (ids, rep_map, verified, fp4, broadcast) where rep_map is
        the narrow (content_sha, rep_file_id) relation and broadcast the
        plan decision: the measured rep-key count is at most
        cfg.broadcast_key_limit. The count comes from the rep_keys stage's
        own materialization (the checkpoint's row count, or a count
        observed by the eager checkpoint job), so it costs no job.

        Only the NARROW rep-key table is materialized up front; consumers
        attach the payload columns they need (candidates: bands; verify:
        kmv/theta). Broadcast path: each attach broadcasts the key set
        into the already-materialized signature scan — the ~2KB wide rows
        are scanned in place, never re-shuffled or re-materialized.
        Fallback path: a materialized shuffle-hash reps stage carries the
        three payload columns and each attach selects from it. Verify
        broadcasts two side rows per candidate pair, so it needs twice the
        candidates stage's row count (measured the same way) within the
        limit too; else it shuffles.
        """
        # signatures feed several consumers (rep keys, payload attach, the
        # final file_id→cluster map) — materialize once so the kernel runs
        # once and the cluster stage never re-scans the raw corpus
        sigs, fp1 = self._stage(
            "signatures", input_fp, lambda: compute_signatures(corpus, self.cfg)
        )
        # narrow (file_id, content_sha) projection materialized ONCE: the
        # rep keys agg, the duplicate probe and the final cluster map are
        # all narrow consumers, and a row-cached wide table gives them no
        # column pruning — this 60B/row table does
        ids, _ = self._stage("ids", fp1, lambda: sigs.select("file_id", "content_sha"))
        # the duplicate-(sha,fid) probe and the rep-keys agg both read only
        # the materialized ids blocks and are independent — overlap them
        # (guide §2.6: actions are only sequential because the driver calls
        # them sequentially; the probe's tasks back-fill cores the keys
        # agg's tail leaves idle). Only in the no-checkpoint path: with a
        # checkpoint dir the probe stays LAZY so a resumed run skips it.
        probe_fut = None
        if self.dir is None:
            from concurrent.futures import ThreadPoolExecutor

            pool = ThreadPoolExecutor(max_workers=1)
            probe_fut = pool.submit(has_duplicate_id_rows, ids)
            pool.shutdown(wait=False)
        keys, fp2 = self._stage("rep_keys", fp1, lambda: exact_rep_keys(ids))
        broadcast = self._stage_rows("rep_keys", keys) <= self.cfg.broadcast_key_limit

        @functools.cache
        def payload() -> DataFrame:
            """The signature rows, deduplicated on (content_sha, file_id)
            only when the probe finds duplicate input rows. The probe runs
            at most once: the prefetched future's result (so its exception
            surfaces) or a lazy probe a resumed run never reaches."""
            dups = probe_fut.result() if probe_fut is not None else has_duplicate_id_rows(ids)
            return sigs.dropDuplicates(["content_sha", "file_id"]) if dups else sigs

        if broadcast:
            def attach(cols: list[str]) -> DataFrame:
                return rep_payload(payload(), keys, cols, broadcast=True)
        else:
            reps, fp2 = self._stage(
                "reps",
                fp2,
                lambda: rep_payload(
                    payload(),
                    keys,
                    ["bands", "minhash_kmv", "theta64"],
                    broadcast=False,
                ),
            )

            def attach(cols: list[str]) -> DataFrame:
                return reps.select("content_sha", *cols)

        cands, fp3 = self._stage(
            "candidates", fp2, lambda: candidate_pairs(attach(["bands"]), self.cfg)
        )
        # the rep-key count does not bound the pairs (a family of m
        # near-duplicates gives up to m(m-1)/2), so measure them too
        limit = self.cfg.broadcast_key_limit
        side_rows = broadcast and 2 * self._stage_rows("candidates", cands) <= limit
        verified, fp4 = self._stage(
            "verified",
            fp3,
            lambda: verify_pairs(
                cands,
                attach(["minhash_kmv", "theta64"]),
                self.cfg,
                broadcast=side_rows,
            ),
        )
        rep_map = keys.select("content_sha", "rep_file_id")
        return ids, rep_map, verified, fp4, broadcast

    def _stage_rows(self, name: str, df: DataFrame) -> int:
        """Row count of a just-materialized stage, as ``_stage`` recorded
        it (the reused checkpoint's count, or the count its write or eager
        checkpoint job observed); one job over the stage's plan only for a
        stage built with ``materialize=False``."""
        for stage, rows, *_ in reversed(self.metrics):
            if stage == name:
                return _rows(rows)
        return df.count()

    def run(self, corpus: DataFrame, input_fp: str = "corpus") -> DataFrame:
        """corpus(repo,path,commit,lang,content) → clusters(file_id,
        content_sha, cluster_id). cluster_id = min content_sha in component;
        non-duplicated files map to their own content_sha."""
        ids, _, verified, fp4, broadcast = self._dedup_stages(corpus, input_fp)
        edges = (
            verified.where("accepted")
            .select(F.col("sha_a").alias("src"), F.col("sha_b").alias("dst"))
        )
        # the rep keys fitting the broadcast budget bounds the graph's node
        # set too, so the same decision picks the one-task union-find
        clusters, _ = self._stage(
            "clusters", fp4, lambda: assign_clusters(ids, edges, broadcast, self.dir)
        )
        self.flush_metrics()
        return clusters

    def containment(self, corpus: DataFrame) -> DataFrame:
        """Substring-containment pairs (file_id_contained, file_id_container)
        over the corpus — the suffix/substring dedup stage, run alongside
        the MinHash pipeline. It runs no pipeline stage: the operator reads
        (file_id, content) straight from the corpus.
        """
        return containment_pairs(
            corpus.select(file_id(), "content"), id_col="file_id", text_col="content"
        )

    def dup_pairs(self, corpus: DataFrame, input_fp: str = "corpus") -> DataFrame:
        """(file_id-level) exact + verified near-dup pairs — F3 schema."""
        ids, rep_map, verified, *_ = self._dedup_stages(corpus, input_fp)
        near = (
            verified.where("accepted")
            .join(rep_map.withColumnRenamed("content_sha", "sha_a")
                  .withColumnRenamed("rep_file_id", "file_id_a"), "sha_a")
            .join(rep_map.withColumnRenamed("content_sha", "sha_b")
                  .withColumnRenamed("rep_file_id", "file_id_b"), "sha_b")
            .select(
                F.least("file_id_a", "file_id_b").alias("file_id_a"),
                F.greatest("file_id_a", "file_id_b").alias("file_id_b"),
                "jaccard_est",
                F.lit("near").alias("kind"),
            )
        )
        ex = exact_pairs(ids, rep_map)
        self.flush_metrics()
        return ex.unionByName(near)
