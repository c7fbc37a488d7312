"""PySpark worker daemon whose zip importers re-read only changed archives.

At the start of every task PySpark's worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``).  On CPython 3.11 that makes every
``zipimporter`` on the worker's ``sys.path`` re-parse its archive's whole
central directory in pure Python: 16 importers over ``pyspark.zip``
(1,328 entries), the ``spark-core`` jar (5,359) and the py4j zip, about
0.2 s of CPU per task, before the task's function runs and whatever it
computes.  CPython 3.12 reads the directory lazily instead (gh-103200).

Run as ``python -m ts_raster_spark.daemon`` (``get_spark`` sets
``spark.python.daemon.module`` to this module), it replaces
``zipimporter.invalidate_caches`` with ``invalidate_caches`` below, which
re-reads an importer's archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the one that importer last read,
records the stats of the importers that exist before any worker is
forked, and then runs ``pyspark.daemon.manager()``, which forks the
workers and exits when the JVM closes its stdin.  Importing the module
changes nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _archive_stat(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(importer: zipimport.zipimporter) -> None:
    """Re-read ``importer``'s archive directory unless the archive is
    unchanged since this importer last read it.  The stats are kept per
    importer, not per archive: importers that share an archive (one per
    package prefix) each hold their own copy of its directory."""
    stat = _archive_stat(importer.archive)
    if stat is None or stat != getattr(importer, "_archive_stat", None):
        _reread(importer)
        importer._archive_stat = stat


def _install() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer._archive_stat = _archive_stat(importer.archive)


if __name__ == "__main__":
    from pyspark.daemon import manager

    _install()
    manager()
