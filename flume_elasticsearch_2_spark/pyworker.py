"""A cheaper per-task import-cache reset for PySpark's Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark.worker_util.setup_spark_files``). On CPython < 3.13 that makes
every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole central directory: the worker holds about 16 of them (one
per package directory of ``pyspark.zip``, py4j and the spark-core jar), and
together they cost about 125 ms per task on a 4-vCPU VM, more than the
serving kernels' own read and score. CPython 3.13's ``zipimport`` only drops
its cache there, so the stock method is cheap from 3.13 on.

:func:`install` (run from the package ``__init__``, so every repo kernel the
worker unpickles brings it in) replaces ``zipimporter.invalidate_caches``,
inside a PySpark task process only, with :func:`invalidate_caches`: it
re-reads an archive only when the archive's ``(st_ino, st_size,
st_mtime_ns)`` changed since that importer last read it. The driver keeps
the stock method.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STOCK = zipimport.zipimporter.invalidate_caches
_STAT = "_fts_archive_stat"  # per-importer: the stat its directory was read at


def _archive_stat(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the directory re-read
    while the archive is unchanged. With no earlier stat, or when ``stat``
    fails (a deleted archive), it runs the stock method. The stat is taken
    before the read, so a write racing the read shows up as a change on the
    next call."""
    st = _archive_stat(self.archive)
    if st is not None and st == getattr(self, _STAT, None):
        return
    _STOCK(self)
    setattr(self, _STAT, st)


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` when running inside a PySpark
    task on CPython < 3.13; returns whether the patch is active."""
    # a PySpark worker has imported pyspark.taskcontext before it unpickles
    # a task's function
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if sys.version_info >= (3, 13) or taskcontext is None or taskcontext.TaskContext.get() is None:
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def active() -> str:
    """The qualified name of this process's ``zipimporter.invalidate_caches``."""
    fn = zipimport.zipimporter.invalidate_caches
    return f"{fn.__module__}.{fn.__qualname__}"
