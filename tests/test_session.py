"""Session settings that make repeated plans and local Python tasks cheap:
the codegen class cache holds a pass's classes, and local workers talk to
the JVM over Unix domain sockets when the socket path fits ``sun_path``."""

import os

import pyarrow as pa

from datasketches_rust_spark.plans import session


def _compiled_classes(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_outlasts_the_default(spark):
    """More distinct projections than Spark's default cache of 100 holds:
    the second round finds every class compiled by the first. Planning the
    RDD compiles the whole-stage class on the driver, with no job."""
    n = 128

    def round_of_projections() -> int:
        before = _compiled_classes(spark)
        for i in range(n):
            # the literal is inlined into the generated source: one class each
            df = spark.range(0, 1, 1, 1).selectExpr(f"id * 7919 + {1_000_003 + i} AS v")
            df._jdf.queryExecution().toRdd()
        return _compiled_classes(spark) - before

    assert round_of_projections() >= n
    assert round_of_projections() == 0


def test_local_workers_use_unix_domain_sockets(spark):
    """The test session's workers (a short temp dir) run on Unix sockets;
    the JVM spells the flag ``True``, the daemon compares it lower-cased."""

    def probe(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")]}
        )

    rows = spark.range(0, 1, 1, 1).mapInArrow(probe, "uds string").collect()
    assert rows[0].uds.lower() == "true"


def test_long_socket_dir_keeps_tcp(tmp_path):
    """Spark binds <dir>/.<uuid4>.sock and rejects a dir over 61
    characters (a 104-byte path): a 61-byte dir gets both socket confs, a
    62-byte dir neither, and neither does a 61-character dir of 62 bytes."""
    fits = "/" + "d" * 60
    assert session._unix_socket_conf(fits) == {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": fits,
    }
    assert session._unix_socket_conf(fits + "d") == {}
    assert session._unix_socket_conf(fits[:-1] + "\u00e9") == {}
    deep = tmp_path / ("d" * 80)
    deep.mkdir()
    assert session._unix_socket_conf(str(deep)) == {}


def test_read_parquet_keeps_spark_inferred_schema(spark, tmp_path):
    """read_parquet gives Spark's own inferred schema (timestamp_ntz
    included) on a first and a repeated open, and a table rewritten with
    one more column is inferred again."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t.parquet")
    df = spark.range(5).select(
        "id", F.col("id").cast("string").alias("s"),
        F.lit("2024-01-02 03:04:05").cast("timestamp_ntz").alias("ts"),
    )
    df.write.parquet(path)
    want = spark.read.parquet(path).schema
    assert session.read_parquet(spark, path).schema == want
    again = session.read_parquet(spark, path)
    assert again.schema == want and again.count() == 5
    df.withColumn("extra", F.lit(1.5)).write.mode("overwrite").parquet(path)
    got = session.read_parquet(spark, path)
    assert got.schema == spark.read.parquet(path).schema
    assert got.schema.names == ["id", "s", "ts", "extra"]


def test_as_read_back_is_the_inferred_schema(spark, tmp_path):
    """A written DataFrame's schema through as_read_back equals what
    spark.read.parquet infers for the files: non-nullable columns, array
    elements, struct fields and map values all come back nullable."""
    from pyspark.sql import functions as F

    df = spark.range(3).select(
        "id",
        F.sha2(F.col("id").cast("string"), 256).alias("hex"),
        F.array(F.col("id"), F.lit(2)).alias("arr"),
        F.struct(F.col("id").alias("a"), F.array(F.lit(1.0)).alias("b")).alias("st"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.unhex(F.sha2(F.col("id").cast("string"), 256)).alias("bin"),
    )
    path = str(tmp_path / "w.parquet")
    df.write.parquet(path)
    assert not df.schema["id"].nullable
    assert session.as_read_back(df.schema) == spark.read.parquet(path).schema
