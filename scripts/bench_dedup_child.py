"""Child process for the scaling benchmark: run the full dedup pipeline
at a fixed parallelism over a pre-generated corpus parquet.

Usage: python scripts/bench_dedup_child.py <corpus_path> <cpus>
Prints one JSON line: {"wall": seconds, "files": n, "rows": n,
"clusters": n, "stage_walls": {stage: seconds}, "jobs": n, "tasks": n,
"peak_rss_mb": MB} (wall covers the pipeline only, not session startup —
the quantity that scales with executors on a real cluster). jobs and tasks
count every Spark job the pass starts, on any thread; peak_rss_mb is the
VmHWM sum over the driver, JVM and Python worker processes.
"""

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
try:  # normally provided by spark-submit --py-files
    import datasketches_rust_spark  # noqa: F401
except ImportError:  # plain-python fallback for local debugging
    sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

from probes import tree_peak_rss_mb  # noqa: E402

from datasketches_rust_spark.plans.pipeline import DedupPipeline  # noqa: E402
from datasketches_rust_spark.plans.session import get_spark, job_ids, jobs_tasks  # noqa: E402


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
    n_files = corpus.count()  # warm the input outside the timed window
    # spawn the Python worker pool before timing: a real long job amortizes
    # interpreter startup to nothing; at bench scale it would skew the ratio
    corpus.select("repo").mapInArrow(lambda it: it, "repo string").count()

    sc = spark.sparkContext
    before = job_ids(sc)
    pipe = DedupPipeline(spark)
    t0 = time.monotonic()
    clusters = pipe.run(corpus)
    n_rows = clusters.count()
    wall = time.monotonic() - t0
    jobs, tasks = jobs_tasks(sc, job_ids(sc) - before)
    n_clusters = clusters.select("cluster_id").distinct().count()

    # every stage is an eager checkpoint, so a stage's wall is its own work;
    # it shows which stage stops scaling
    stage_walls = {name: round(wall_s, 2) for name, *_, wall_s in pipe.metrics}
    # under spark-submit the JVM is the driver's parent: measure its tree
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    root = jvm_pid if jvm_pid == os.getppid() else os.getpid()
    out = {"wall": wall, "files": n_files, "rows": n_rows, "clusters": n_clusters,
           "stage_walls": stage_walls, "jobs": jobs, "tasks": tasks,
           "peak_rss_mb": round(tree_peak_rss_mb(root), 1)}
    print(json.dumps(out))
    spark.stop()
    shutil.rmtree(f"/dev/shm/spark-bench-{cpus}", ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]))
