"""SparkSession factory with the engine's scale-oriented defaults,
parquet reads that skip Spark's schema inference when the schema is known,
and job/task counts read from the live status store."""

from __future__ import annotations

import os
import site
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

_PACKAGE_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

# Spark's cache of compiled codegen classes (a static conf, default 100).
# The 12 headline queries generate ~205 classes a pass, so at 100 Janino
# recompiled 203-205 of them on every later pass (1.5-2.0 s of a ~10 s
# pass); at 1024 a later pass compiles none (`bench_extra.py --codegen
# --passes 4`, local[4]). The dedup pass generates 62 and fits either way.
_CODEGEN_CACHE_ENTRIES = 1024

# Spark binds a local worker's Unix socket at <dir>/.<uuid4>.sock. Linux's
# sun_path holds 107 bytes, but Spark rejects a socket dir over 61
# characters (a 104-byte path, the BSD sun_path), and a rejected conf fails
# the session's start, so the path must fit 104 bytes.
_SOCKET_PATH_MAX = 104
_SOCKET_NAME_BYTES = len("/.") + 36 + len(".sock")


def _workers_find_package() -> bool:
    """Whether a local Python worker finds this package. Spark starts the
    daemon as ``python -m`` in this process's working directory and
    environment, so it searches the working directory, ``$PYTHONPATH`` and
    site-packages, but not entries a driver added to ``sys.path``."""
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    root = os.path.realpath(_PACKAGE_ROOT)
    return any(
        p and os.path.realpath(p) == root for p in paths + site.getsitepackages()
    )


def _unix_socket_conf(socket_dir: str) -> dict[str, str]:
    """Spark confs that move local Python workers onto Unix domain
    sockets in ``socket_dir``, or none when a socket path there would be
    too long (the workers then stay on TCP; a path over Linux's limit
    fails every Python task, a dir over Spark's limit the session)."""
    if len(os.fsencode(socket_dir)) + _SOCKET_NAME_BYTES > _SOCKET_PATH_MAX:
        return {}
    return {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": socket_dir,
    }


def get_spark(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "datasketches-rust-spark",
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a session with AQE, Arrow, and sane shuffle sizing.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else
    ``local[*]``); it is always set on the builder, so pass the cluster's
    master explicitly to run elsewhere. For a local master whose workers
    find this package, the Python workers fork from ``plans.pydaemon``,
    which stops each task from re-reading ``pyspark.zip``, and talk to
    the JVM over Unix domain sockets in ``tempfile.gettempdir()`` when a
    socket path there is short enough (a TCP connection stalls each
    task ~40 ms). Other masters keep the stock daemon: a worker that
    cannot import the daemon module fails every Python task.
    ``extra_conf`` is applied last and overrides any of these settings.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # runtime re-planning: partition coalescing + skew-join splitting —
        # the plan-level analog of the reference's mode adaptivity
        # (hll/sketch.rs:214-243 List->Set->Hll promotion)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # respect cluster parallelism when coalescing: with size-first
        # coalescing (parallelismFirst=false) the small post-LSH stages
        # (verify, CC iterations) collapse to ~64MB partitions = fewer
        # tasks than cores, flatlining their scaling from N to 4N
        # executors; per-task overhead is milliseconds, idle cores are not
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # signature kernels work on whole-file strings; keep Arrow batches
        # bounded so a batch of 200KB files stays well under executor memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if (master == "local" or master.startswith("local[")) and _workers_find_package():
        b = b.config(
            "spark.python.daemon.module", "datasketches_rust_spark.plans.pydaemon"
        )
        for k, v in _unix_socket_conf(tempfile.gettempdir()).items():
            b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


# ``spark.read.parquet(path)`` without a schema runs a one-task Spark job
# that reads a footer ("parquet at <unknown>:0"): 64-81 ms per open on a
# warm local[4] session, against 6-9 ms with the schema given. Spark's own
# inferred schema is kept per (application, path), guarded by the files'
# names, sizes and mtimes. (pyarrow's footer schema is no substitute: it
# reads ``timestamp`` where Spark infers ``timestamp_ntz``.)
_PARQUET_SCHEMAS: dict[tuple[str, str], tuple[tuple, StructType]] = {}


def _files_stat(path: str) -> tuple | None:
    """Sorted (file, size, mtime_ns) of the local file or every file under
    the local directory ``path``; None if ``path`` is not local."""
    if os.path.isfile(path):
        files = [path]
    elif os.path.isdir(path):
        files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    else:
        return None
    return tuple(sorted((f, (st := os.stat(f)).st_size, st.st_mtime_ns) for f in files))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, given the schema Spark inferred when
    this application last opened the same, unchanged files. A rewritten
    table is inferred again; a path that is not local always is."""
    stat = _files_stat(path)
    key = (spark.sparkContext.applicationId, path)
    hit = _PARQUET_SCHEMAS.get(key)
    if stat is not None and hit is not None and hit[0] == stat:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if stat is not None:
        _PARQUET_SCHEMAS[key] = (stat, df.schema)
    return df


def as_read_back(dt: DataType) -> DataType:
    """``dt`` as ``spark.read.parquet`` infers it for files written with
    it: every field, array element and map value nullable. Reading a
    just-written checkpoint with this schema skips the footer job."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, as_read_back(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(as_read_back(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(as_read_back(dt.keyType), as_read_back(dt.valueType), True)
    return dt


def job_ids(sc, group: str | None = None) -> set[int]:
    """Ids of the jobs in job group ``group`` (None: every job of no
    group) the live status store holds, once the listener bus has
    delivered every event posted so far. Job groups are thread-local: a
    job started on another thread carries none of the caller's group."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(group))


def jobs_tasks(sc, jobs: set[int]) -> tuple[int, int]:
    """(jobs, tasks run) of ``jobs``; a stage shared by several of them (a
    reused shuffle) counts once, and a skipped stage runs no task."""
    tracker = sc.statusTracker()
    infos = [tracker.getJobInfo(j) for j in jobs]
    stages = {s for i in infos if i is not None for s in i.stageIds}
    done = (tracker.getStageInfo(s) for s in stages)
    return len(jobs), sum(i.numCompletedTasks for i in done if i is not None)
