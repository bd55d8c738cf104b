"""The local-mode Python daemon (``plans/pydaemon``): its stat-guarded
``zipimporter.invalidate_caches`` skips unchanged archives and re-reads
changed ones, and the session's workers fork from it.

The guard is checked in a ``python -c`` subprocess, so this process keeps
the stock ``zipimport``."""

import json
import os
import pathlib
import subprocess
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from datasketches_rust_spark.plans import pydaemon, session

REPO = pathlib.Path(__file__).resolve().parent.parent

# Build a zip holding mod_a and import it (then install the guard, in the
# "guarded" mode); count directory reads over three
# invalidations; then rewrite the zip (larger, adding mod_b), invalidate,
# and import mod_b. argv: "guarded" | "stock", then a scratch directory.
SCRIPT = r"""
import importlib, json, os, sys, zipfile, zipimport

mode, tmp = sys.argv[1], sys.argv[2]
archive = os.path.join(tmp, "mods.zip")


def write(mods):
    with zipfile.ZipFile(archive, "w") as z:
        for m in mods:
            z.writestr(m + ".py", f"NAME = {m!r}\n")


write(["mod_a"])
sys.path.insert(0, archive)
import mod_a

if mode == "guarded":  # after the import, as the daemon does
    from datasketches_rust_spark.plans import pydaemon, session
    pydaemon.install_guard()
reads = []
stock_read = zipimport._read_directory
zipimport._read_directory = lambda path: reads.append(path) or stock_read(path)
for _ in range(3):
    importlib.invalidate_caches()
unchanged = len(reads)

write(["mod_a", "mod_b"])
importlib.invalidate_caches()
try:
    import mod_b
    imported = mod_b.NAME == "mod_b"
except ImportError:
    imported = False
print(json.dumps({"unchanged_reads": unchanged,
                  "changed_reads": len(reads) - unchanged,
                  "imported_mod_b": imported}))
"""


def _run(mode: str, tmp_path) -> dict:
    work = tmp_path / mode
    work.mkdir()
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, mode, str(work)],
        env=env, cwd=work, capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(not pydaemon.GUARDED, reason="CPython >= 3.13 runs the stock daemon")
def test_guard_skips_unchanged_and_rereads_changed_zip(tmp_path):
    """Stock CPython re-reads the directory on every invalidation (so the
    counter sees reads) and finds the new module; the guard reads nothing
    while the zip is unchanged and still finds the new module after the
    rewrite, so a guard that never re-reads fails here."""
    stock = _run("stock", tmp_path)
    guarded = _run("guarded", tmp_path)
    assert stock["unchanged_reads"] >= 3
    assert stock["imported_mod_b"]
    assert guarded["unchanged_reads"] == 0
    assert guarded["changed_reads"] == 1
    assert guarded["imported_mod_b"]


def test_this_process_keeps_stock_zipimport(spark):
    """Neither importing the daemon module nor starting a session patches
    the driver's zipimport."""
    assert zipimport.zipimporter.invalidate_caches is pydaemon._stock_invalidate_caches


def test_daemon_module_only_where_workers_find_package(tmp_path, monkeypatch):
    """A worker finds the package through its working directory or
    $PYTHONPATH; a driver that only extended sys.path keeps the stock
    daemon, which a worker can always import."""
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert not session._workers_find_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), str(REPO)]))
    assert session._workers_find_package()
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(REPO)
    assert session._workers_find_package()


def test_session_workers_run_guarded_invalidation(spark):
    """The session's Python workers fork from the package daemon and
    run its invalidate_caches (stock on CPython >= 3.13)."""

    def probe(batches):
        origin = zipimport.zipimporter.invalidate_caches.__code__.co_filename
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"origin": [origin]})

    rows = spark.range(0, 1, 1, 1).mapInArrow(probe, "origin string").collect()
    from_daemon = os.path.realpath(rows[0].origin) == os.path.realpath(pydaemon.__file__)
    assert from_daemon == pydaemon.GUARDED


def test_shipped_py_file_imports_in_udf(spark, tmp_path):
    """A zip shipped with addPyFile after the workers started is still found:
    the spark-files path goes through the guarded invalidation."""
    spark.range(0, 4, 1, 4).mapInArrow(lambda it: it, "id long").collect()
    archive = tmp_path / "dsrs_shipped.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("dsrs_shipped_probe.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(archive))

    def use(batches):
        import dsrs_shipped_probe

        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"v": [dsrs_shipped_probe.VALUE] * b.num_rows}
            )

    rows = spark.range(0, 4, 1, 4).mapInArrow(use, "v long").collect()
    assert [r.v for r in rows] == [42] * 4
