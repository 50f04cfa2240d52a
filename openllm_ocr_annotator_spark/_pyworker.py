"""Stat-guarded ``zipimporter.invalidate_caches`` for PySpark Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py: setup_spark_files``). On CPython 3.11
and 3.12 that makes every ``zipimporter`` in ``sys.path_importer_cache``
re-parse its archive's central directory: pyspark.zip alone has one importer
per subpackage, so each task paid 70-140 ms before reading a row. The guard
re-reads an archive only when its ``(st_ino, st_size, st_mtime_ns)`` differs
from the stat taken when that importer last read it, so a rewritten or
removed archive is still re-read. CPython 3.13 made the invalidation lazy;
there ``install`` does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> None:
    if sys.version_info >= (3, 13):
        return
    eager = zipimport.zipimporter.invalidate_caches
    if getattr(eager, "_stat_guarded", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        if key is None or key != getattr(self, "_read_stat", None):
            eager(self)
            self._read_stat = key

    invalidate_caches.__wrapped__ = eager
    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
