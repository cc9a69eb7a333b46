"""Stat-keyed ``zipimporter.invalidate_caches`` for reused Python workers.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, after it extends ``sys.path`` with
the task's ``.zip`` includes). On CPython 3.11 that reaches
``zipimporter.invalidate_caches``, which eagerly re-reads the central
directory of every archive on the path. A local-mode worker holds 16 zip
importers (12 over ``pyspark.zip``, 2 over py4j, 2 over the spark-core
jar), and one call took 175-290 ms, before any of the task's rows are
read.
Interpreters whose zipimporter reads the archive lazily (it has
``_get_files``) are left alone.

Each importer re-reads its archive only when the archive's
(``st_mtime_ns``, ``st_size``) differs from the last re-read it made, so
an archive rewritten in place is still picked up on the next call.
"""

from __future__ import annotations

import os
import zipimport


def _stat_key(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches``; idempotent."""
    cls = zipimport.zipimporter
    eager = cls.invalidate_caches
    if getattr(eager, "_stat_keyed", False) or hasattr(cls, "_get_files"):
        return  # already wrapped, or the stdlib re-reads lazily

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        if key is not None and key == getattr(self, "_bdb_stat_key", None):
            return
        eager(self)
        self._bdb_stat_key = key  # taken before the read: a racing write re-reads next time

    invalidate_caches._stat_keyed = True
    cls.invalidate_caches = invalidate_caches
