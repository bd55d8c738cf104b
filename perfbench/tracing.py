"""Traced runs: label Spark jobs by pipeline stage or query, then read the
per-label numbers back out of Spark's event log.

Nothing here changes the package. ``TracedPipeline._stage`` labels and
times every stage of a dedup pass: it sets the Spark job description to
the stage name, so the stage's jobs, including the eager checkpoint
``DedupPipeline._stage`` takes, carry that label. The one call no stage
covers is the duplicate-id probe, which runs on the pipeline's pool
thread; ``Tracer.operators()`` wraps it for the traced run only. Spans
(driver-side start/end of each stage) stay in memory until the traced
half ends.
"""

from __future__ import annotations

import importlib
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from datasketches_rust_spark.plans.pipeline import DedupPipeline

pipeline_mod = importlib.import_module("datasketches_rust_spark.plans.pipeline")
cc_mod = importlib.import_module("datasketches_rust_spark.operators.connected_components")

DESCRIPTION = "spark.job.description"
COUNT_LABEL = "trace.count"
PROBE_LABEL = "dup_probe"


class Tracer:
    """Holds the spans and counts of one traced run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, float, float]] = []
        self.rows: dict[str, list[int]] = defaultdict(list)
        self.count_s = 0.0  # wall of trace-only row counts, excluded from pass walls
        self.cc_iterations = 0

    def label(self, name: str | None) -> None:
        self.sc.setJobDescription(name)

    @contextmanager
    def operators(self):
        """For the block's duration, label and time the duplicate-id probe
        on whatever thread runs it, and count connected-components
        iterations (one Observation each)."""
        probe = pipeline_mod.has_duplicate_id_rows
        observation = cc_mod.Observation
        tracer = self

        def traced_probe(*args, **kwargs):
            tracer.label(PROBE_LABEL)
            t0 = time.perf_counter()
            try:
                return probe(*args, **kwargs)
            finally:
                tracer.spans.append((PROBE_LABEL, t0, time.perf_counter()))
                tracer.label(None)

        class CountingObservation(observation):
            def __init__(self, *args, **kwargs):
                tracer.cc_iterations += 1
                super().__init__(*args, **kwargs)

        try:
            pipeline_mod.has_duplicate_id_rows = traced_probe
            cc_mod.Observation = CountingObservation
            yield
        finally:
            pipeline_mod.has_duplicate_id_rows = probe
            cc_mod.Observation = observation
            self.label(None)

    def count_rows(self, stage: str, df) -> None:
        """Row count of a materialized stage, as a job of its own label; the
        caller's label is restored, so the pipeline's next jobs keep it."""
        previous = self.sc.getLocalProperty(DESCRIPTION)
        t0 = time.perf_counter()
        self.label(COUNT_LABEL)
        try:
            self.rows[stage].append(df.count())
            if stage == "verified":
                self.rows["verified.accepted"].append(df.where("accepted").count())
        finally:
            self.label(previous)
            self.count_s += time.perf_counter() - t0


class TracedPipeline(DedupPipeline):
    """DedupPipeline whose stages record a span and label their jobs; the
    collect of the result that follows a pass is labelled ``collect``."""

    def __init__(self, tracer: Tracer, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.tracer = tracer

    def _stage(self, name, upstream_fp, compute, materialize=True):
        self.tracer.label(name)
        t0 = time.perf_counter()
        df, fp = super()._stage(name, upstream_fp, compute, materialize)
        self.tracer.spans.append((name, t0, time.perf_counter()))
        self.tracer.count_rows(name, df)
        return df, fp

    def run(self, *args, **kwargs):
        clusters = super().run(*args, **kwargs)
        self.tracer.label("collect")
        return clusters


# ------------------------------------------------------------ event log

# SQL metrics Spark ships on MapInArrow / MapInPandas nodes
PY_ACCUMS = {
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_sent_mb",
    "data returned from Python workers": "python_returned_mb",
}
MB = 1024 * 1024


def event_log_file(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1 or names[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job-description label: jobs, tasks, task failures, executor CPU
    and GC seconds, shuffle write MB and records, disk spill MB and the
    Python-boundary SQL metrics."""
    stage_label: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                label = (ev.get("Properties") or {}).get(DESCRIPTION) or "-"
                out[label]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage_label[ev["Stage Info"]["Stage ID"]] = (
                    props.get(DESCRIPTION) or "-"
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                label = stage_label.get(info["Stage ID"], "-")
                for acc in info.get("Accumulables", []):
                    key = PY_ACCUMS.get(acc.get("Name"))
                    if key:
                        v = float(acc["Value"])
                        # the Python run time metric is in milliseconds
                        out[label][key] += v / 1e3 if key.endswith("_s") else v / MB
            elif kind == "SparkListenerTaskEnd":
                label = stage_label.get(ev["Stage ID"], "-")
                o = out[label]
                o["tasks"] += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    o["task_failures"] += 1
                m = ev.get("Task Metrics") or {}
                o["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                o["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
                sw = m.get("Shuffle Write Metrics") or {}
                o["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                o["shuffle_records"] += sw.get("Shuffle Records Written", 0)
    return {k: dict(v) for k, v in out.items()}
