"""Stat-guarded zip-importer invalidation for PySpark workers.

Every Python task's set-up (``pyspark.worker_util.setup_spark_files``)
calls ``importlib.invalidate_caches()``.  Before Python 3.13 that makes
every cached ``zipimporter`` re-parse its archive's central directory:
a worker holds about 13 importers over ``pyspark.zip`` (1,328 entries)
and 2 over the ``spark-core`` jar (5,359 entries), which cost
0.12-0.20 s of CPU per task on a reused worker, for archives that do
not change while the worker lives.  ``install()`` makes an importer
re-read its archive only when the archive's (mtime, size) differs from
what that importer last read; the package calls it only inside a
PySpark worker, never on the driver.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STOCK = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _guarded_invalidate_caches(self) -> None:
    """Re-read the archive only if it changed since this importer last
    read it; a missing archive falls through to the stock method."""
    stamp = _stamp(self.archive)
    if stamp is None or getattr(self, "_read_stamp", None) != stamp:
        _STOCK(self)
        self._read_stamp = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (Python < 3.13 only;
    idempotent).  The importers already cached were re-read by this
    task's set-up, so they are stamped as read."""
    if sys.version_info >= (3, 13):
        return
    if zipimport.zipimporter.invalidate_caches is _guarded_invalidate_caches:
        return
    zipimport.zipimporter.invalidate_caches = _guarded_invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer._read_stamp = _stamp(importer.archive)
