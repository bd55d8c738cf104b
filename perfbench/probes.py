"""Measurements taken outside Spark: the signature and verify kernels on one
core, the noise sentinels, and the peak RSS of the process tree."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

import numpy as np

BATCH_ROWS = 384  # the bench child's spark.sql.execution.arrow.maxRecordsPerBatch
KERNEL_BATCHES = 4


def kernel_batches(corpus_path: str, text_col: str = "content",
                   id_cols: tuple[str, ...] = ("repo", "path", "commit")):
    """A fixed set of 384-row Arrow batches shaped like the signature
    kernel's input (file_id, content_sha, content), read with pyarrow."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(dict.fromkeys([*id_cols, text_col]))
    table = pq.read_table(corpus_path, columns=cols)
    table = table.slice(0, BATCH_ROWS * KERNEL_BATCHES)
    texts = table.column(text_col).to_pylist()
    ids = zip(*(table.column(c).to_pylist() for c in id_cols))
    file_id = [hashlib.sha256("\x00".join(map(str, k)).encode()).hexdigest() for k in ids]
    sha = [hashlib.sha256(t.encode()).digest() for t in texts]
    full = pa.record_batch(
        [pa.array(file_id), pa.array(sha, pa.binary()), pa.array(texts)],
        names=["file_id", "content_sha", "content"],
    )
    return [full.slice(i, BATCH_ROWS) for i in range(0, full.num_rows, BATCH_ROWS)]


def _median_time(fn, reps: int) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return float(np.median(walls))


def kernel_metrics(batches, reps: int = 3) -> dict[str, float]:
    """sigkit.signature_batch_ms / signature_mb_per_s and
    verify.jaccard_kpairs_per_s, single process, no Spark. The Jaccard pairs
    are the LSH candidates among the batches' documents (shared band)."""
    from datasketches_rust_spark.config import PipelineConfig
    from datasketches_rust_spark.operators.signatures import signature_record_batch
    from datasketches_rust_spark.operators.verify import jaccard_batch

    cfg = PipelineConfig()
    text_mb = sum(b.column(2).nbytes for b in batches) / (1024 * 1024)
    sigs = [signature_record_batch(b, cfg) for b in batches]  # warm
    sig_s = _median_time(lambda: [signature_record_batch(b, cfg) for b in batches], reps)

    kmv, theta, buckets = [], [], {}
    for s in sigs:
        for row in s.select(["minhash_kmv", "theta64", "bands"]).to_pylist():
            doc = len(kmv)
            kmv.append(row["minhash_kmv"])
            theta.append(row["theta64"])
            for band, h in enumerate(row["bands"] or []):
                buckets.setdefault((band, h), []).append(doc)
    pairs = sorted({(a, b) for docs in buckets.values() if len(docs) < 50
                    for i, a in enumerate(docs) for b in docs[i + 1:]})
    # fixed-size batch: cycle the candidate pairs up to 20k
    idx = np.resize(np.arange(len(pairs)), 20_000) if pairs else np.arange(0)
    a = [kmv[pairs[i][0]] for i in idx]
    b = [kmv[pairs[i][1]] for i in idx]
    th = np.asarray(theta, dtype=np.int64)
    ta = th[[pairs[i][0] for i in idx]]
    tb = th[[pairs[i][1] for i in idx]]
    jac_s = _median_time(lambda: jaccard_batch(a, ta, b, tb), reps)
    return {
        "sigkit.signature_batch_ms": 1000.0 * sig_s / len(batches),
        "sigkit.signature_mb_per_s": text_mb / sig_s,
        "verify.jaccard_kpairs_per_s": len(idx) / jac_s / 1000.0 if len(idx) else 0.0,
    }


def sentinels() -> dict[str, float]:
    """A fixed CPU micro-leaf and a numpy-triad memory-bandwidth micro-leaf,
    recorded beside the metrics so a co-tenant burst is visible."""
    rng = np.random.default_rng(0)
    x = rng.integers(0, 1 << 62, size=1 << 20)
    cpu_ms = 1000.0 * _median_time(lambda: np.sort(x, kind="stable"), 3)
    n = 1 << 23  # 64 MB per float64 array
    b = np.ones(n)
    c = np.ones(n)
    a = np.empty(n)

    def triad():
        np.multiply(c, 3.0, out=a)
        np.add(a, b, out=a)

    triad_s = _median_time(triad, 5)
    # bytes moved: read b, c, a-tmp; write a twice
    return {"sentinel.cpu_sort_ms": cpu_ms,
            "sentinel.triad_gb_per_s": 5 * 8 * n / triad_s / 1e9}


def sentinels_subprocess() -> dict[str, float]:
    """Run the sentinels in a child interpreter so their arrays never count
    toward the benchmark's own peak RSS."""
    out = subprocess.run([sys.executable, os.path.abspath(__file__)],
                         capture_output=True, text=True, check=True, timeout=60)
    return json.loads(out.stdout)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # process exited while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of VmHWM (peak RSS) over a process and all its descendants:
    driver, JVM, Python daemon and workers."""
    kids = _children()
    todo, total_kb = [root or os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


if __name__ == "__main__":
    print(json.dumps(sentinels()))
