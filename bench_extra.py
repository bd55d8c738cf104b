"""Extra measurement harness for the optimization rounds (bench.py is
FROZEN — this file carries the builder's own diagnostics).

Modes:
  python bench_extra.py                 # per-query best-of-N wall (same
                                        # methodology as bench.py headline)
  python bench_extra.py --explain DIR   # also write explain("formatted")
                                        # per query into DIR/<q>.txt
  python bench_extra.py --queries a,b   # restrict to a subset
  python bench_extra.py --passes 3      # number of passes (default 2)
  python bench_extra.py --task-latency  # fixed cost of one warm one-task
                                        # job: JVM-only, mapInArrow, RDD
                                        # Python (no SF dir needed)

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
    the JVM one are the fixed cost a Python task adds."""
    from datasketches_rust_spark.plans.session import get_spark

    # the workers import the package (and its daemon module) from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark(master="local[4]", shuffle_partitions=4,
                      app_name="bench_extra_latency")
    one = spark.range(0, 1, 1, 1)
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
    }
    print(json.dumps(out))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--explain", default=None)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--task-latency", action="store_true")
    args = ap.parse_args()
    if args.task_latency:
        task_latency(runs=15)
        return

    from datasketches_rust_spark.plans.session import get_spark
    import __spark_entry__ as entrymod
    import bench

    qs = entrymod.queries()
    names = args.queries.split(",") if args.queries else bench.HEADLINE
    spark = get_spark(
        master=f"local[{CPUS}]", shuffle_partitions=CPUS, app_name="bench_extra"
    )

    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        for name in names:
            df = qs[name](spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                f.write(txt)
            print(f"explained {name}", file=sys.stderr)

    times: dict[str, float] = {}
    samples: dict[str, list] = {n: [] for n in names}
    for _ in range(args.passes):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.monotonic()
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            wall = round(time.monotonic() - t0, 3)
            samples[name].append(wall)
            times[name] = min(times.get(name, wall), wall)
            spark.sparkContext.setJobDescription(None)
    print(
        json.dumps(
            {
                "value": round(sum(times.values()), 3),
                "queries": times,
                "samples": samples,
                "sf": SF_DIR,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
