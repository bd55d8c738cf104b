"""Repository benchmark: closed-loop runs of the dedup pipeline and of the
headline sketch queries, one client and one job at a time, on local[4].

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke          # tiny traced run of every workload
    python3 perfbench/run.py --workload NAME --seed N --record-pins

Workloads (BENCHMARK.json says why each exists):
  dedup_large_files  DedupPipeline.run on 8k files of ~8 KB
  sketch_queries     the 12 headline queries of __spark_entry__.queries()

An op is one DedupPipeline.run pass plus collecting its clusters, or one
query plus collecting its rows. After set-up comes one untimed warm-up
pass, since a JVM's first pass pays JIT compilation and code generation
for every plan. Its ops run ``warmup_threads`` at a time: the queries are
independent, and an untimed pass need not follow the closed loop. Then
whole passes run back to back until --seconds have passed, at least
``min_passes`` of them (a dedup pass is one op; a query pass is the 12
queries in a seed-permuted order). Every op's output, warm-up included, is
checked: a dedup pass against the cluster count and fingerprint pinned for
its input and a dup-pair recall floor, a query against its pinned row
count and result hash. For the dedup workload the seed picks one of
inputs.N_VARIANTS pinned corpora; for the queries it permutes the query
order.

--trace 0 prints the end-to-end metrics. --trace 1 spends half the time
untraced and half with Spark's event log on and jobs labelled by stage or
query, and prints the per-layer metrics. The last stdout line is the JSON
result; the lines before it carry the noise sentinels and, for the dedup
workload, the per-stage table.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CORES = 4
RECALL_FLOOR = 0.99

WORKLOADS = {
    "dedup_large_files": {"kind": "dedup", "files": 8000, "size_scale": 8},
    "sketch_queries": {"kind": "queries"},
}
SMOKE = {
    "dedup_large_files": {"files": 400},
    "sketch_queries": {},
}
DEDUP_STAGES = ("signatures", "ids", "rep_keys", "candidates", "verified", "clusters")


def _work(*parts: str) -> str:
    path = os.path.join(HERE, ".work", *parts)
    os.makedirs(path, exist_ok=True)
    return path


def _prepare_env() -> None:
    """Keep the files Spark, the JVM and the Python workers write inside
    the work directory, and let the workers import the package."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = _work("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = _work("local")
    sys.path.insert(0, REPO)


def start_session(event_log: str | None = None):
    from datasketches_rust_spark.plans.session import get_spark

    conf = {
        # a small heap fills within the warm-up, so peak RSS repeats run to run
        "spark.driver.memory": "1500m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={_work('tmp')} -XX:-UsePerfData",
        "spark.local.dir": _work("local"),
        "spark.sql.warehouse.dir": _work("warehouse"),
        # the bench child's settings (scripts/bench_dedup_child.py)
        "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(256 * 1024),
        "spark.sql.execution.arrow.maxRecordsPerBatch": "384",
        "spark.cleaner.referenceTracking": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        conf["spark.eventLog.dir"] = event_log
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return get_spark(master=f"local[{CORES}]", shuffle_partitions=16 * CORES,
                     app_name="perfbench", extra_conf=conf)


def spawn_workers(spark) -> None:
    spark.range(0, CORES, 1, CORES).mapInArrow(lambda it: it, "id long").collect()


def stop_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it to end;
    SparkSession.stop() leaves it running."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


# ------------------------------------------------------------ workloads

class Dedup:
    """DedupPipeline.run over a generated corpus, in-memory checkpoints;
    one pass per op."""

    warmup_threads = 1
    min_passes = 2

    def __init__(self, spec: dict, seed: int):
        from datasketches_rust_spark.plans.pipeline import DedupPipeline
        from inputs import variant

        self.spec, self.pins = spec, None
        self.input_key = str(variant(seed))
        self.gen_seed = 1000 + variant(seed)
        self.truth = None
        self.recalls: list[float] = []
        self.fingerprints: set[str] = set()
        self.observed: dict = {}
        self.pipeline_factory = DedupPipeline  # a TracedPipeline when traced

    def prepare(self, spark) -> None:
        from inputs import ensure_corpus

        self.path = ensure_corpus(spark, self.gen_seed, self.spec["files"],
                                  self.spec["size_scale"])

    def warm(self, spark) -> None:
        self.corpus = spark.read.parquet(self.path)
        self.items_per_op = self.corpus.count()

    def passes(self, seed: int):
        while True:
            yield [("pass", self.run_pass)]

    def run_pass(self, spark):
        pipe = self.pipeline_factory(spark)
        return lambda: pipe.run(self.corpus).select("file_id", "cluster_id").toArrow()

    def check(self, _name: str, table) -> str | None:
        from inputs import dedup_truth

        fids = table.column("file_id").to_pylist()
        cids = table.column("cluster_id").to_pylist()
        lines = sorted(f"{f}\t{c}" for f, c in zip(fids, cids))
        got = {"clusters": len(set(cids)),
               "fingerprint": hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]}
        self.fingerprints.add(got["fingerprint"])
        self.observed = {"pass": got}
        if self.truth is None:
            self.truth = dedup_truth(self.gen_seed, self.spec["files"], self.spec["size_scale"])
        cmap = dict(zip(fids, cids))
        recall = sum(cmap.get(a) == cmap.get(b) for a, b in self.truth) / max(1, len(self.truth))
        self.recalls.append(recall)
        if recall < RECALL_FLOOR:
            return f"recall {recall:.4f} < {RECALL_FLOOR}"
        if self.pins is not None and self.pins.get("pass") != got:
            return f"clusters {got} != pinned {self.pins.get('pass')}"
        return None

    def end_pass(self) -> str | None:
        return None


class Queries:
    """The headline queries over the sf0.01 tables; one query per op. The
    seed permutes the query order of each pass."""

    warmup_threads = CORES
    min_passes = 2
    items_per_op = 1
    input_key = "sf0.01"

    def __init__(self, spec: dict, seed: int):
        self.spec, self.pins = spec, None
        self.recalls: list[float] = []
        self.fingerprints: set[str] = set()
        self.observed: dict = {}
        self.outputs: dict = {}
        self.label = None  # set to a Tracer to label each query's jobs

    def prepare(self, spark) -> None:
        import __spark_entry__

        from inputs import TABLES_DIR, doc_file_ids

        self.dir = TABLES_DIR
        self.doc_of = doc_file_ids(self.dir)
        self.queries = __spark_entry__.queries()

    def warm(self, spark) -> None:
        from inputs import TABLES

        for t in TABLES:
            spark.read.parquet(f"{self.dir}/{t}.parquet").count()

    def passes(self, seed: int):
        from bench import HEADLINE

        rng = random.Random(seed)
        while True:
            order = list(HEADLINE)
            rng.shuffle(order)
            yield [(q, self._bind(q)) for q in order]

    def _bind(self, name: str):
        def bind(spark):
            def op():
                if self.label:
                    self.label.label(f"q.{name}")
                try:
                    return self.queries[name](spark, self.dir).toArrow().to_pylist()
                finally:
                    if self.label:
                        self.label.label(None)

            return op

        return bind

    def check(self, name: str, rows) -> str | None:
        from inputs import rows_fingerprint

        self.outputs[name] = rows
        got = [len(rows), rows_fingerprint(rows)]
        self.observed[name] = got
        if self.pins is not None and self.pins.get(name) != got:
            return f"{name}: {got} != pinned {self.pins.get(name)}"
        return None

    def end_pass(self) -> str | None:
        """Recall of the LSH dup pairs against the exact n-gram pairs at J >= 0.8."""
        from inputs import same_component_recall

        self.fingerprints.add(json.dumps(self.observed, sort_keys=True))
        outputs, self.outputs = self.outputs, {}
        if not {"ngram_jaccard_pairs", "lsh_dup_pairs_est"} <= outputs.keys():
            return None  # one of them failed, and was counted
        truth = [(r["doc_id_a"], r["doc_id_b"]) for r in outputs["ngram_jaccard_pairs"]]
        lsh = [(self.doc_of[r["file_id_a"]], self.doc_of[r["file_id_b"]])
               for r in outputs["lsh_dup_pairs_est"]]
        recall = same_component_recall(truth, lsh)
        self.recalls.append(recall)
        return None if recall >= RECALL_FLOOR else f"query recall {recall:.4f}"


# ------------------------------------------------------------ the run

class Run:
    def __init__(self, workload: str, seed: int, smoke: bool = False):
        spec = dict(WORKLOADS[workload])
        if smoke:
            spec.update(SMOKE[workload])
        self.wl = (Dedup if spec["kind"] == "dedup" else Queries)(spec, seed)
        if not smoke:
            with open(os.path.join(HERE, "pins.json")) as f:
                self.wl.pins = json.load(f).get(workload, {}).get(self.wl.input_key, {})
        self.seed = seed
        self.spark = None
        self.attempted = 0
        self.failed = 0

    def setup(self) -> dict[str, float]:
        """One cold set-up: session start (the first in this process, so it
        launches the JVM), worker spawn and input warm-up. Generating an
        input on first use is excluded."""
        t0 = time.perf_counter()
        self.spark = start_session()
        t1 = time.perf_counter()
        spawn_workers(self.spark)
        t2 = time.perf_counter()
        self.wl.prepare(self.spark)
        t3 = time.perf_counter()
        self.wl.warm(self.spark)
        t4 = time.perf_counter()
        return {"setup_s": (t2 - t0) + (t4 - t3),
                "session.start_s": t1 - t0,
                "session.worker_spawn_s": t2 - t1}

    def warm_up(self) -> None:
        """One untimed pass, ``warmup_threads`` ops at a time; every output
        is checked."""
        ops = next(self.wl.passes(self.seed))
        with ThreadPoolExecutor(self.wl.warmup_threads) as pool:
            futures = [(name, pool.submit(lambda b=bind: b(self.spark)())) for name, bind in ops]
        for name, future in futures:
            self.attempted += 1
            try:
                err = self.wl.check(name, future.result())
            except Exception:  # a failed op is counted; the run goes on
                err = traceback.format_exc()
            if err:
                self._fail(err)
        err = self.wl.end_pass()
        if err:
            self._fail(err)

    def measure(self, seconds: float, min_passes: int) -> list[list[tuple[str, float]]]:
        """Whole passes until ``seconds`` have passed; per pass, the
        (op name, wall) of every op that completed."""
        passes, source = [], self.wl.passes(self.seed)
        t_start = time.perf_counter()
        while len(passes) < min_passes or time.perf_counter() - t_start < seconds:
            walls = []
            for name, bind in next(source):
                self.attempted += 1
                try:
                    op = bind(self.spark)
                    t0 = time.perf_counter()
                    result = op()
                    walls.append((name, time.perf_counter() - t0))
                    err = self.wl.check(name, result)
                except Exception:  # a failed op is counted; the run goes on
                    err = traceback.format_exc()
                if err:
                    self._fail(err)
            err = self.wl.end_pass()
            if err:
                self._fail(err)
            passes.append(walls)
        return passes

    def _fail(self, err: str) -> None:
        self.failed += 1
        print(f"perfbench: check failed: {err}", file=sys.stderr)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def end_to_end(run: Run, setup: dict, passes, rss_mb: float) -> dict[str, float]:
    w = [s for p in passes for _, s in p]
    return {
        "setup_s": setup["setup_s"],
        "op_p50_s": statistics.median(w),
        "op_p75_s": statistics.quantiles(w, n=4, method="inclusive")[2] if len(w) > 1 else w[0],
        "items_per_s": run.wl.items_per_op * len(w) / sum(w),
        "dup_pair_recall": min(run.wl.recalls),
        "peak_rss_mb": rss_mb,
    }


def traced(run: Run, seconds: float) -> tuple[list, object, dict]:
    """The traced half of a --trace 1 run: event log on, jobs labelled."""
    from tracing import TracedPipeline, Tracer, event_log_file, parse_event_log

    shutil.rmtree(os.path.join(HERE, ".work", "eventlog"), ignore_errors=True)
    log_dir = _work("eventlog")
    run.stop()
    run.spark = start_session(event_log=log_dir)
    spawn_workers(run.spark)
    run.wl.warm(run.spark)
    tracer = Tracer(run.spark)
    if isinstance(run.wl, Dedup):
        run.wl.pipeline_factory = lambda spark: TracedPipeline(tracer, spark)
        with tracer.operators():
            passes = run.measure(seconds, 1)
    else:
        run.wl.label = tracer
        passes = run.measure(seconds, 1)
    run.stop()
    with open(os.path.join(HERE, ".work", "spans.json"), "w") as f:
        json.dump(tracer.spans, f)
    return passes, tracer, parse_event_log(event_log_file(log_dir))


def layer_metrics(run: Run, tracer, labels: dict, passes, untraced) -> dict[str, float]:
    from bench import HEADLINE

    n = len(passes)

    def lab(label: str, key: str) -> float:
        return labels.get(label, {}).get(key, 0.0) / n

    def span(name: str) -> float:
        return sum(e - s for k, s, e in tracer.spans if k == name) / n

    def rows(name: str) -> float:
        r = tracer.rows.get(name, [])
        return sum(r) / len(r) if r else 0.0

    m = {"signatures.wall_s": span("signatures")}
    for key in ("executor_cpu_s", "python_run_s", "python_sent_mb", "python_returned_mb",
                "tasks"):
        m[f"signatures.{key}"] = lab("signatures", key)
    for st in ("ids", "rep_keys"):
        m[f"{st}.wall_s"] = span(st)
        m[f"{st}.shuffle_write_mb"] = lab(st, "shuffle_write_mb")
        m[f"{st}.rows_out"] = rows(st)
    m["dup_probe.wall_s"] = span("dup_probe")
    m["dup_probe.shuffle_write_mb"] = lab("dup_probe", "shuffle_write_mb")
    m["candidates.wall_s"] = span("candidates")
    for key in ("shuffle_write_mb", "shuffle_records", "spill_mb"):
        m[f"candidates.{key}"] = lab("candidates", key)
    m["candidates.rows_out"] = rows("candidates")
    m["verified.wall_s"] = span("verified")
    m["verified.python_run_s"] = lab("verified", "python_run_s")
    m["verified.shuffle_write_mb"] = lab("verified", "shuffle_write_mb")
    m["verified.rows_in"] = rows("candidates")
    m["verified.accept_ratio"] = (
        rows("verified.accepted") / rows("candidates") if rows("candidates") else 0.0
    )
    m["clusters.wall_s"] = span("clusters")
    m["cc.iterations"] = tracer.cc_iterations / n
    m["clusters.jobs"] = lab("clusters", "jobs")
    m["clusters.shuffle_write_mb"] = lab("clusters", "shuffle_write_mb")
    work = [v for k, v in labels.items() if k not in ("-", "trace.count")]
    for key in ("jobs", "tasks", "gc_s", "task_failures"):
        m[f"spark.{key}"] = sum(v.get(key, 0.0) for v in work) / n
    q_walls: dict[str, list[float]] = {}
    for p in passes:
        for q, s in p:
            q_walls.setdefault(q, []).append(s)
    for q in HEADLINE:
        m[f"q.{q}.wall_s"] = statistics.median(q_walls.get(q, [0.0]))
        m[f"q.{q}.jobs"] = lab(f"q.{q}", "jobs")
    # trace-only row counts ran inside the traced passes; take them out
    traced_pass = statistics.median(sum(s for _, s in p) for p in passes) - tracer.count_s / n
    plain_pass = statistics.median(sum(s for _, s in p) for p in untraced)
    m["trace.overhead_frac"] = traced_pass / plain_pass - 1.0
    m["trace.pass_wall_s"] = traced_pass
    return m


def stage_table(m: dict[str, float]) -> str:
    wall = m["trace.pass_wall_s"]
    lines = [f"{'stage':<12}{'wall_s':>9}{'share':>8}{'shuffle_mb':>12}{'rows_out':>10}"]
    for st in DEDUP_STAGES:
        w = m[f"{st}.wall_s"]
        lines.append(f"{st:<12}{w:>9.3f}{w / wall:>8.1%}"
                     f"{m.get(f'{st}.shuffle_write_mb', 0.0):>12.2f}"
                     f"{m.get(f'{st}.rows_out', 0.0):>10.0f}")
    lines.append(f"traced pass {wall:.3f} s, trace.overhead_frac {m['trace.overhead_frac']:+.3f}")
    return "\n".join(lines)


def benchmark(workload: str, seed: int, seconds: float, trace: bool,
              smoke: bool = False) -> tuple[Run, dict[str, float]]:
    from probes import kernel_batches, kernel_metrics, sentinels_subprocess, tree_peak_rss_mb

    before = sentinels_subprocess()
    run = Run(workload, seed, smoke)
    min_passes = 1 if smoke or trace else run.wl.min_passes
    span = seconds / 2 if trace else seconds
    try:
        setup = run.setup()
        run.warm_up()
        passes = run.measure(span, min_passes)
        if not trace:
            metrics = end_to_end(run, setup, passes, tree_peak_rss_mb())
        else:
            t_passes, tracer, labels = traced(run, span)
            metrics = layer_metrics(run, tracer, labels, t_passes, passes)
            metrics["session.start_s"] = setup["session.start_s"]
            metrics["session.worker_spawn_s"] = setup["session.worker_spawn_s"]
            if isinstance(run.wl, Dedup):
                print(stage_table(metrics))
                batches = kernel_batches(run.wl.path)
            else:
                batches = kernel_batches(f"{run.wl.dir}/documents.parquet", "text",
                                         ("source", "doc_id"))
            metrics.update(kernel_metrics(batches))
    finally:
        run.stop()
    print(json.dumps({"sentinels": {"before": before, "after": sentinels_subprocess()}}))
    return run, metrics


def record_pins(workload: str, seed: int) -> int:
    """One pass on the seed's input; store its outputs as that input's pins."""
    run = Run(workload, seed)
    run.wl.pins = None
    try:
        run.setup()
        run.measure(0, 1)
    finally:
        run.stop()
    if run.failed:
        return 1
    path = os.path.join(HERE, "pins.json")
    with open(path) as f:
        pins = json.load(f)
    pins.setdefault(workload, {})[run.wl.input_key] = run.wl.observed
    with open(path, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


def smoke() -> int:
    """Every workload at tiny size, traced: no failed op, identical outputs
    in the untraced and traced pass, and a parsed event log with labels."""
    ok = True
    for workload in WORKLOADS:
        run, m = benchmark(workload, 0, 0, trace=True, smoke=True)
        labelled = (m["signatures.tasks"] > 0 and m["clusters.jobs"] > 0
                    if isinstance(run.wl, Dedup) else m["q.ann_topk.jobs"] > 0)
        good = run.failed == 0 and len(run.wl.fingerprints) == 1 and labelled
        print(f"smoke {workload}: {'ok' if good else 'FAILED'} ({run.attempted} ops, "
              f"{run.failed} failed, {len(run.wl.fingerprints)} distinct outputs)")
        ok &= good
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record-pins", action="store_true")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "datasketches_rust_spark", "plans", "pipeline.py")):
        print("perfbench: the package sources are not beside perfbench/", file=sys.stderr)
        return 2
    if not (args.smoke or args.workload):
        ap.error("--workload is required")
    _prepare_env()
    try:
        if args.smoke:
            return smoke()
        if args.record_pins:
            return record_pins(args.workload, args.seed)
        run, metrics = benchmark(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        stop_jvm()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in listed},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
