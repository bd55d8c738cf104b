"""Plan-shaping helpers shared by the heavy per-document operators."""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the planned scan yields fewer
    partitions than the session's parallelism.

    Heavy per-row compute (tokenizer/shingle kernels, per-doc hashing)
    inherits the scan's partitioning. A small or unsplittable input — one
    parquet file under ``maxPartitionBytes``, a single gzip — plans as ONE
    partition, so the whole kernel serializes through one task no matter
    how many cores the cluster has (guide §2.5, "input skew"). This helper
    widens exactly that case: it reads the *planned* partition count (no
    job runs) and round-robin repartitions only when the scan is narrower
    than the target. A 100 TB table already plans thousands of splits, so
    at scale this is a no-op and no extra exchange is ever paid; the
    repartition itself only moves the small input once (deterministic:
    Spark sorts before round-robin so retries replay the same placement).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target) if df.rdd.getNumPartitions() < target else df
