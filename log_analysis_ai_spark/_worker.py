"""Spark Python worker set-up: stop re-reading unchanged zip archives on
every task.

Before each task PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``) so that newly shipped
``--py-files`` become importable. On Python 3.11 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-parse its
archive's central directory in pure Python. A worker's path holds the Spark
core jar (5,359 entries, ~0.04 s per read), ``pyspark.zip`` (1,328 entries,
~0.01 s, one importer per imported sub-package) and py4j: 16 importers and
0.19 s of CPU per task on a 4-core x86-64 host, more than the per-row work
of a small partition.

The guard re-reads an archive only when its stat stamp (mtime, ctime, size,
inode) differs from the one taken just before its last read, so an archive
replaced or rewritten by ``addPyFile``/``--py-files`` is still re-read, and a
new archive on ``sys.path`` still gets a fresh importer from the path hooks.
It is installed only in Spark Python worker processes; the driver and any
other interpreter keep the stock importer.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_ctime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """zipimporter.invalidate_caches that skips an unchanged archive."""
    stamp = _stamp(self.archive)  # taken before the read: a change mid-read shows next time
    if stamp is not None and stamp == getattr(self, "_read_stamp", None):
        return
    _stock_invalidate(self)
    self._read_stamp = stamp


def in_spark_worker() -> bool:
    """True in a Spark Python worker that runs task after task: the workers
    forked by ``python -m pyspark.daemon`` (the default) and the streaming
    workers import ``pyspark.worker``; no driver-side module does. Without
    the daemon the JVM starts ``python -m pyspark.worker`` afresh for every
    task, where ``pyspark.worker`` is ``__main__``: the guard would only add
    a read there, so it stays off."""
    return "pyspark.worker" in sys.modules


def install() -> None:
    """Swap in the guard, then read each cached zip importer once under it, so
    that from the next task on an unchanged archive is never re-read."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()
