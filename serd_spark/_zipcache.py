"""Stat-gated ``zipimporter.invalidate_caches`` for CPython < 3.13.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``worker_util.setup_spark_files``). Before 3.13,
that makes every ``zipimporter`` on ``sys.path`` re-parse its whole
archive directory; for the 1,328-entry ``pyspark.zip`` a worker
imports from, that is 137-263 ms per Python task (4-core host,
CPython 3.11.7), often more than the task's own work. 3.13 made the
re-read lazy, so the patch is version-gated.

The patched method re-reads an archive only when its ``(mtime, size)``
changed since this importer last read it, so a rebuilt or replaced
zip is still picked up. Installed once per process on import of
:mod:`serd_spark`; the worker's first task pays the read, every later
task on the reused worker skips it.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """A no-op on CPython >= 3.13."""
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        if stamp is not None and stamp == getattr(self, "_serd_stamp", None):
            return
        reread(self)
        self._serd_stamp = stamp

    cls.invalidate_caches = invalidate_caches
