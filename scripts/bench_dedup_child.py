"""Child process for the scaling benchmark: run the full dedup pipeline
at a fixed parallelism over a pre-generated corpus parquet.

Usage: python scripts/bench_dedup_child.py <corpus_path> <cpus>
Prints one JSON line: {"wall": seconds, "files": n, "clusters": n}
(wall covers the pipeline only, not session startup — the quantity that
scales with executors on a real cluster).
"""

import json
import os
import shutil
import sys
import time

try:  # normally provided by spark-submit --py-files
    import datasketches_rust_spark  # noqa: F401
except ImportError:  # plain-python fallback for local debugging
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datasketches_rust_spark.config import PipelineConfig
from datasketches_rust_spark.plans.pipeline import DedupPipeline
from datasketches_rust_spark.plans.session import get_spark


def main(corpus_path: str, cpus: int) -> None:
    spark = get_spark(
        master=f"local[{cpus}]",
        # enough initial shuffle partitions that a per-partition hash-join
        # build stays small at multi-million-file corpora; AQE coalesces
        # the small stages back down to ~parallelism
        shuffle_partitions=max(cpus * 8, 64),
        app_name=f"bench-dedup-{cpus}",
        extra_conf={
            # shuffle/spill dirs on tmpfs: the sandbox's single shared disk
            # under-provisions the 4N level (a real 4N-executor cluster has
            # 4x the local SSDs), so disk-bound shuffles would flatline at
            # the disk's bandwidth regardless of cores
            "spark.local.dir": f"/dev/shm/spark-bench-{cpus}",
            # size input splits so the scan parallelizes across all cores
            # even for a bench-sized corpus (on a 100TB table the defaults
            # already yield thousands of splits). 32 MB, not the round-3
            # 4 MB: every scan task pays a fixed Python-worker/Arrow
            # stream setup on top of scheduling, and a round-6 sweep of
            # the signatures stage read (4c best-of-2 noop) 90-96 s at
            # 4 MB, 72-73 s at 16 MB, 66.5 s at 32 MB, 65.1 s at 64 MB —
            # i.e. ~2000 tasks of overhead was a quarter of the stage.
            # 32 MB still plans ~260 splits for the 8.3 GB bench corpus
            # (≥ 8× the widest level's cores) and moves TOWARD the 128 MB
            # production default rather than away from it.
            "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(256 * 1024),
            # cache blocking: ~2-4MB of text per Arrow batch keeps the
            # signature kernel's arrays L2/L3-resident — 2x faster single
            # core and it stops saturating DRAM bandwidth across workers
            "spark.sql.execution.arrow.maxRecordsPerBatch": "384",
            # the round-5 bench tail once logged "ERROR DAGScheduler:
            # Failed to update accumulator ... non-existent accumulator" —
            # the benign race where the ContextCleaner GCs a finished
            # stage's accumulator registrations (the eager localCheckpoint
            # lineage cuts drop the old RDD references as soon as each
            # stage materializes) while a straggler task's final update is
            # still in flight. Results are unaffected (clusters
            # byte-identical across every run), but an ERROR line in the
            # official bench output is not acceptable: this child lives
            # for one bounded pipeline run, so the cleaner buys nothing —
            # disable reference tracking and the race class is gone.
            # (NOT set in plans/session.py: a long-running production
            # session needs the cleaner to reclaim shuffle/broadcast
            # metadata.)
            "spark.cleaner.referenceTracking": "false",
        },
    )
    corpus = spark.read.parquet(corpus_path)
    # SPARK_GRAFT_BROADCAST_REP: 1 forces the broadcast rep-payload path,
    # 0 forces the shuffle-hash fallback, unset = cfg auto mode — used for
    # the measured fallback-path run recorded in BASELINE.md
    cfg = PipelineConfig()
    bc_env = os.environ.get("SPARK_GRAFT_BROADCAST_REP")
    if bc_env is not None:
        cfg = cfg.with_(broadcast_rep_payload=(bc_env == "1"))
    n_files = corpus.count()  # warm the input outside the timed window
    # spawn the Python worker pool before timing: a real long job amortizes
    # interpreter startup to nothing; at bench scale it would skew the ratio
    corpus.select("repo").mapInPandas(lambda it: it, "repo string").count()

    stage_walls = {}
    t0 = time.monotonic()
    if os.environ.get("SPARK_GRAFT_STAGE_WALLS") == "1":
        # diagnostic mode: eager-checkpoint each stage and time it — finds
        # which stage stops scaling; not the official measurement (eager
        # materialization breaks cross-stage pipelining)
        from pyspark.sql import functions as F

        from datasketches_rust_spark.operators.lsh import (
            candidate_pairs,
            exact_rep_keys,
            has_duplicate_id_rows,
            rep_payload,
        )
        from datasketches_rust_spark.operators.signatures import compute_signatures
        from datasketches_rust_spark.operators.verify import verify_pairs
        from datasketches_rust_spark.plans.pipeline import assign_clusters

        def timed(name, df):
            t = time.monotonic()
            out = df.localCheckpoint(eager=True)
            stage_walls[name] = round(time.monotonic() - t, 2)
            return out

        sigs = timed("signatures", compute_signatures(corpus, cfg))
        ids = timed("ids", sigs.select("file_id", "content_sha"))
        keys = timed("rep_keys", exact_rep_keys(ids))
        t = time.monotonic()
        payload = (
            sigs.dropDuplicates(["content_sha", "file_id"])
            if has_duplicate_id_rows(ids)
            else sigs
        )
        stage_walls["dup_probe"] = round(time.monotonic() - t, 2)
        # the broadcast payload attach is a zero-exchange scan, so its cost
        # lands inside the consumer stages' walls (candidates/verify)
        cands = timed(
            "candidates", candidate_pairs(rep_payload(payload, keys, ["bands"]), cfg)
        )
        verified = timed(
            "verify",
            verify_pairs(
                cands,
                rep_payload(payload, keys, ["n_shingles", "minhash_kmv", "theta64"]),
                cfg,
            ),
        )
        edges = verified.where("accepted").select(
            F.col("sha_a").alias("src"), F.col("sha_b").alias("dst")
        )
        # this diag runs the broadcast (key set fits one place) path
        # throughout, so clusters take the pipeline's one-task union-find
        clusters = timed("clusters", assign_clusters(ids, edges, single_task=True))
        n_rows = clusters.count()
    else:
        pipe = DedupPipeline(spark, cfg)
        clusters = pipe.run(corpus)
        n_rows = clusters.count()
    wall = time.monotonic() - t0
    n_clusters = clusters.select("cluster_id").distinct().count()

    out = {"wall": wall, "files": n_files, "rows": n_rows, "clusters": n_clusters}
    if stage_walls:
        out["stage_walls"] = stage_walls
    print(json.dumps(out))
    spark.stop()
    shutil.rmtree(f"/dev/shm/spark-bench-{cpus}", ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]))
