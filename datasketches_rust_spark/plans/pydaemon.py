"""Python worker daemon for local-mode sessions (``spark.python.daemon.module``).

Every Python task runs ``pyspark.worker_util.setup_spark_files``, which ends
in ``importlib.invalidate_caches()``. On CPython < 3.13 that makes every
``zipimporter`` of the worker re-parse its archive's central directory; a
worker holds ~16 importers into ``pyspark.zip`` (1,328 entries), so each
task re-reads that directory ~16 times: 120-170 ms of fixed cost per task
on a 4-core box. CPython 3.13 made the call lazy (gh-103200).

This module replaces ``zipimporter.invalidate_caches`` with a stat-guarded
version: an archive's directory is re-read only when its
``(st_mtime_ns, st_size)`` differs from the stamp taken before its last
read, and every importer of the archive then shares the re-read directory.
A changed or new zip is still re-read, as CPython does. The patch is made
here, in the daemon, before the stock ``pyspark.daemon.manager()`` forks the
workers; importing this module changes nothing.

Run as ``python -m datasketches_rust_spark.plans.pydaemon [worker-module]``,
which is how Spark starts a daemon module.
"""

from __future__ import annotations

import os
import sys
import zipimport

GUARDED = sys.version_info < (3, 13)

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken before its directory was read
_stamps: dict[str, tuple[int, int]] = {}


def _stat(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _guarded_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    archive = self.archive
    stamp = _stat(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _stamps.get(archive) == stamp:
        # this version of the archive was read already, maybe by another importer
        self._files = files
        return
    _stock_invalidate_caches(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp
    else:
        _stamps.pop(archive, None)


def install_guard() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process, then stamp
    every archive already imported by re-reading its directory once."""
    zipimport.zipimporter.invalidate_caches = _guarded_invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer.invalidate_caches()


def main() -> None:
    from pyspark import daemon  # imports the worker module named in argv

    if GUARDED:
        install_guard()
    daemon.manager()


if __name__ == "__main__":
    main()
