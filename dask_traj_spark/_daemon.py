"""The Python worker daemon of a :func:`~dask_traj_spark.get_spark`
session (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``worker_util.setup_spark_files``), so that a file
added with ``SparkContext.addPyFile`` becomes importable. On CPython
3.11 that makes every ``zipimporter`` on ``sys.path_importer_cache``
re-read its archive's whole directory: ``pyspark.zip`` and the py4j
zip, once per package directory imported from them (14-16 importers
after a task's imports), 0.08-0.23 s of CPU per task on 4-core
hosts.

This daemon makes that call re-read an archive's directory only when
the archive's ``(st_ino, st_size, st_mtime_ns)`` differs from when
that importer last read it; a stat error falls through to the stock
re-read. Imports resolve as on stock CPython: an unchanged archive
has an unchanged directory, a rewritten one is re-read (as precise as
the file system's mtime, the stamp CPython's own path finder trusts),
a new ``addPyFile`` path gets a new importer, and path-finder
invalidation is untouched. Then it stamps every importer once, so
the forked workers inherit the stamps, and runs PySpark's own daemon
(``pyspark.daemon.manager``).

Opt out per session with ``get_spark(extra_conf={
"spark.python.daemon.module": "pyspark.daemon"})``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while
    the archive is the one this importer last read."""
    try:
        st = os.stat(self.archive)
    except (OSError, ValueError):
        vars(self).pop("_stamp", None)
        return _stock_invalidate(self)
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    if vars(self).get("_stamp") != stamp:
        # stamp taken before the read: an archive rewritten during it
        # differs from the stamp, so the next call reads it again
        _stock_invalidate(self)
        self._stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
