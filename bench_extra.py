"""Extra measurement harness for the optimization rounds (bench.py is
FROZEN — this file carries the builder's own diagnostics).

Modes:
  python bench_extra.py                 # per-query best-of-N wall (same
                                        # methodology as bench.py headline)
  python bench_extra.py --explain DIR   # also write explain("formatted")
                                        # per query into DIR/<q>.txt
  python bench_extra.py --queries a,b   # restrict to a subset
                                        # (every per-query mode prints each
                                        # query's Spark jobs and tasks per
                                        # pass next to its wall)
  python bench_extra.py --passes 3      # number of passes (default 2)
  python bench_extra.py --perfbench     # over perfbench/tables in a
                                        # perfbench-shaped local[4] session
  python bench_extra.py --task-latency  # fixed cost of one warm one-task
                                        # job: JVM-only, mapInArrow, RDD
                                        # Python (no SF dir needed)
  python bench_extra.py --signature-stage
                                        # signature kernel ms/batch with 1
                                        # and 4 concurrent processes, then
                                        # the signatures stage wall on the
                                        # perfbench-shaped 8k corpus
  python bench_extra.py --codegen [--passes N] [--codegen-cache K]
                                        # classes compiled and compile ms
                                        # per pass of the 12 headline
                                        # queries over perfbench/tables,
                                        # N passes in one local[4] session
                                        # (K overrides the codegen cache)

Respects $SPARK_GRAFT_SF_DIR and $SPARK_GRAFT_CPUS exactly like bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _median_ms(job, runs: int) -> float:
    job()  # warm: the first run starts the Python workers
    walls = []
    for _ in range(runs):
        t0 = time.perf_counter()
        job()
        walls.append(time.perf_counter() - t0)
    return round(statistics.median(walls) * 1000, 1)


def task_latency(runs: int) -> None:
    """Median wall of warm one-partition jobs on local[4]: JVM-only, one
    mapInArrow task and one RDD Python task. The two Python numbers minus
    the JVM one are the fixed cost a Python task adds. ``worker_socket``
    is what a task's worker talks to the JVM over (``unix`` or ``tcp``)."""
    import pyarrow as pa

    from datasketches_rust_spark.plans.session import get_spark

    # the workers import the package (and its daemon module) from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark(master="local[4]", shuffle_partitions=4,
                      app_name="bench_extra_latency")
    one = spark.range(0, 1, 1, 1)

    def uds(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "false")]})

    worker_uds = one.mapInArrow(uds, "uds string").collect()[0].uds
    out = {
        "jvm_job_ms": _median_ms(lambda: one.selectExpr("id + 1").collect(), runs),
        "python_task_ms": _median_ms(
            lambda: one.mapInArrow(lambda it: it, "id long").collect(), runs),
        "rdd_python_task_ms": _median_ms(
            lambda: spark.sparkContext.parallelize([1], 1).map(lambda x: x).collect(),
            runs),
        "runs": runs,
        "daemon_module": spark.sparkContext.getConf().get(
            "spark.python.daemon.module", "pyspark.daemon"),
        "worker_socket": "unix" if worker_uds.lower() == "true" else "tcp",
    }
    print(json.dumps(out))
    spark.stop()


# the perfbench dedup_large_files corpus (seed 0): generator seed, files,
# size scale, and the bench's Arrow batch rows
SIG_CORPUS = {"seed": 1000, "n_files": 8000, "size_scale": 8}
SIG_BATCH_ROWS = 384


def _kernel_ms(batches, barrier, reps: int, out) -> None:
    """Median ms per batch of ``signature_record_batch`` over ``batches``,
    timed after one warm pass and after every process reached ``barrier``."""
    from datasketches_rust_spark.config import PipelineConfig
    from datasketches_rust_spark.operators.signatures import signature_record_batch

    cfg = PipelineConfig()
    for b in batches:
        signature_record_batch(b, cfg)
    barrier.wait()
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for b in batches:
            signature_record_batch(b, cfg)
        walls.append((time.perf_counter() - t0) / len(batches))
    out.put(1000.0 * statistics.median(walls))


def _kernel_ms_concurrent(batches, procs: int, reps: int) -> float:
    """Median over ``procs`` processes, all hashing at once, of each one's
    median ms per batch."""
    import multiprocessing as mp

    ctx = mp.get_context("spawn")
    barrier, out = ctx.Barrier(procs), ctx.Queue()
    ps = [ctx.Process(target=_kernel_ms, args=(batches, barrier, reps, out))
          for _ in range(procs)]
    for p in ps:
        p.start()
    got = [out.get(timeout=600) for _ in ps]
    for p in ps:
        p.join(timeout=60)
    return round(statistics.median(got), 1)


def signature_stage(runs: int) -> None:
    """The signature kernel outside Spark (ms per 384-row batch, alone and
    with 4 processes at once; the single-process number understates the
    in-situ cost), then the median wall of ``compute_signatures`` plus an
    eager ``localCheckpoint`` over the perfbench-shaped corpus on local[4],
    after two warm-up runs."""
    from datasketches_rust_spark.config import PipelineConfig
    from datasketches_rust_spark.corpus.generator import corpus_spark
    from datasketches_rust_spark.operators.signatures import compute_signatures
    from datasketches_rust_spark.plans.session import get_spark
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    from probes import kernel_batches

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    c = SIG_CORPUS
    path = os.path.join(REPO, ".cache",
                        f"sigstage_s{c['seed']}_n{c['n_files']}_x{c['size_scale']}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        spark = get_spark(master="local[4]", shuffle_partitions=16,
                          app_name="bench_extra_sigstage")
        corpus_spark(spark, c["n_files"], seed=c["seed"], partitions=8,
                     size_scale=c["size_scale"]).drop("file_seq").write.mode(
            "overwrite").parquet(path)
        spark.stop()
    batches = kernel_batches(path)  # perfbench's sigkit probe batches
    out = {
        "signature_kernel.batches": len(batches),
        "signature_kernel.text_mb_per_batch": round(
            statistics.mean(b.column(2).nbytes for b in batches) / 2**20, 2),
        "signature_kernel.batch_ms_1proc": _kernel_ms_concurrent(batches, 1, 7),
        "signature_kernel.batch_ms_4proc": _kernel_ms_concurrent(batches, 4, 7),
    }
    del batches

    spark = get_spark(master="local[4]", shuffle_partitions=16,
                      app_name="bench_extra_sigstage", extra_conf={
                          # perfbench's scan and batch settings
                          "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
                          "spark.sql.files.openCostInBytes": str(256 * 1024),
                          "spark.sql.execution.arrow.maxRecordsPerBatch": str(SIG_BATCH_ROWS),
                          "spark.ui.showConsoleProgress": "false",
                      })
    cfg = PipelineConfig()
    corpus = spark.read.parquet(path)
    walls = []
    for i in range(runs + 2):
        t0 = time.perf_counter()
        compute_signatures(corpus, cfg).localCheckpoint(eager=True)
        if i >= 2:
            walls.append(time.perf_counter() - t0)
    q = statistics.quantiles(walls, n=4)
    out.update({
        "signature_stage.files": c["n_files"],
        "signature_stage.runs": runs,
        "signature_stage.wall_s_median": round(statistics.median(walls), 3),
        "signature_stage.wall_s_iqr": round(q[2] - q[0], 3),
        "signature_stage.walls_s": [round(w, 3) for w in walls],
    })
    print(json.dumps(out))
    spark.stop()


PERFBENCH_TABLES = os.path.join(REPO, "perfbench", "tables")


def _perfbench_spark(app_name: str, conf: dict | None = None):
    """A local[4] session shaped like perfbench's: 64 shuffle partitions,
    384-row Arrow batches and its file-split sizes."""
    from datasketches_rust_spark.plans.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    conf = {"spark.sql.execution.arrow.maxRecordsPerBatch": "384",
            "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(256 * 1024),
            "spark.ui.showConsoleProgress": "false", **(conf or {})}
    return get_spark(master="local[4]", shuffle_partitions=64,
                     app_name=app_name, extra_conf=conf)


def codegen(passes: int, cache_entries: int | None) -> None:
    """Classes Spark compiles (Janino) and their compile ms in each pass of
    the 12 headline queries over the perfbench tables, all passes in one
    local[4] session with perfbench's shuffle and batch settings, plus the
    queries that compiled in each pass. A pass after the first that still
    compiles regenerates classes its cache should hold."""
    import __spark_entry__
    from bench import HEADLINE

    conf = {}
    if cache_entries is not None:
        conf["spark.sql.codegen.cache.maxEntries"] = str(cache_entries)
    spark = _perfbench_spark("bench_extra_codegen", conf)
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    qs = __spark_entry__.queries()
    tables = PERFBENCH_TABLES
    out = []
    for i in range(passes):
        n0, ns0, t0 = compiles.getCount(), generator.compileTime(), time.perf_counter()
        by_query = {}
        for name in HEADLINE:
            q0 = compiles.getCount()
            qs[name](spark, tables).toArrow()
            if compiles.getCount() > q0:
                by_query[name] = compiles.getCount() - q0
        out.append({
            "pass": i,
            "compiled": compiles.getCount() - n0,
            "compile_ms": round((generator.compileTime() - ns0) / 1e6, 1),
            "wall_s": round(time.perf_counter() - t0, 3),
            "compiled_by_query": by_query,
        })
    print(json.dumps({
        "codegen_cache": int(spark.conf.get("spark.sql.codegen.cache.maxEntries")),
        "passes": out,
    }))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--explain", default=None)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--task-latency", action="store_true")
    ap.add_argument("--signature-stage", action="store_true")
    ap.add_argument("--codegen", action="store_true")
    ap.add_argument("--codegen-cache", type=int, default=None)
    ap.add_argument("--perfbench", action="store_true")
    args = ap.parse_args()
    if args.task_latency:
        task_latency(runs=15)
        return
    if args.signature_stage:
        signature_stage(runs=6)
        return
    if args.codegen:
        codegen(args.passes, args.codegen_cache)
        return

    from datasketches_rust_spark.plans.session import get_spark, job_ids, jobs_tasks
    import __spark_entry__ as entrymod
    import bench

    qs = entrymod.queries()
    names = args.queries.split(",") if args.queries else bench.HEADLINE
    sf_dir = SF_DIR
    if args.perfbench:
        sf_dir, spark = PERFBENCH_TABLES, _perfbench_spark("bench_extra")
    else:
        spark = get_spark(
            master=f"local[{CPUS}]", shuffle_partitions=CPUS, app_name="bench_extra"
        )

    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        for name in names:
            df = qs[name](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                f.write(txt)
            print(f"explained {name}", file=sys.stderr)

    times: dict[str, float] = {}
    samples: dict[str, list] = {n: [] for n in names}
    jobs: dict[str, list] = {n: [] for n in names}
    tasks: dict[str, list] = {n: [] for n in names}
    sc = spark.sparkContext
    for i in range(args.passes):
        for name in names:
            group = f"bench_extra: {name} #{i}"
            sc.setJobGroup(group, group)
            t0 = time.monotonic()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            wall = round(time.monotonic() - t0, 3)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
            samples[name].append(wall)
            times[name] = min(times.get(name, wall), wall)
            n_jobs, n_tasks = jobs_tasks(sc, job_ids(sc, group))
            jobs[name].append(n_jobs)
            tasks[name].append(n_tasks)
    print(
        json.dumps(
            {
                "value": round(sum(times.values()), 3),
                "queries": times,
                "samples": samples,
                "jobs": jobs,
                "tasks": tasks,
                "sf": sf_dir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
