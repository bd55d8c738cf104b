"""Shared skew-safe bucket→candidate-pair plan of every LSH-family operator.

MinHash bands, SimHash byte bands and hyperplane sign bands all reduce to
rows of (bucket key..., member id) whose same-bucket members are candidate
pairs, and all share one failure mode: a hot bucket of m members emits m²
pairs. One plan serves them: an exchange on the bucket key, one Arrow
kernel task per partition (``sigkit/bucket_pairs.py``: all pairs up to the
cap, a star to the bucket minimum above it) and a ``distinct``. The key rows
are read once, so nothing needs an eager checkpoint, a broadcast or a join.
Members carry ids only: payloads (vectors, fingerprints, band arrays) are
re-attached to the distinct pair set, so the shuffle carries ids, not data.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType

from ..sigkit.bucket_pairs import capped_pairs


def capped_bucket_pairs(
    keys: DataFrame, key_cols: list[str], id_col: str, cap: int
) -> DataFrame:
    """Distinct (id_a, id_b) with id_a < id_b from bucket-membership rows.

    ``keys``: one row per (bucket key..., member id); a member may appear
    in many buckets (bands). Buckets with more than ``cap`` members emit a
    star to the bucket minimum instead of all pairs.
    """
    id_type = keys.schema[id_col].dataType
    schema = StructType([StructField("id_a", id_type), StructField("id_b", id_type)])

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        batches = list(batches)
        if batches:
            pairs = capped_pairs(pa.Table.from_batches(batches), key_cols, id_col, cap)
            yield from pairs.to_batches()

    return (
        keys.select(*key_cols, id_col)
        .repartition(*key_cols)
        .mapInArrow(run, schema)
        .distinct()
    )
