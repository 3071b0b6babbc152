"""PySpark's Python worker daemon, with lazy zip-import cache invalidation.

Before every task, PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, so that a file added with
``addPyFile`` since the last task is importable. That call reaches every
``zipimport.zipimporter`` in ``sys.path_importer_cache``:

- on CPython 3.11 and 3.12, ``zipimporter.invalidate_caches`` re-reads
  its archive's central directory at once, once per importer;
- on CPython 3.13 it only drops the archive from a shared cache, and the
  next import from that archive reads it again.

A worker that imports PySpark from a ``SPARK_HOME`` install holds 16 zip
importers (``pyspark.zip`` and 11 of its subpackages, the py4j zip twice
and the spark-core jar twice): 26,672 directory entries parsed per task,
most of a trivial task's CPU time (SCALE.md §4).

This module is the daemon ``session.get_spark`` names in Spark's
``spark.python.daemon.module``. On CPython < 3.13 it makes an importer
re-read its archive only when the archive's (inode, size, mtime_ns)
differs from the stamp taken at the archive's last re-read, and
otherwise hands the importer the directory already cached for that
archive. It then runs PySpark's own ``pyspark.daemon.manager``; the
workers it forks inherit the change. A zip rewritten on disk is read
again before the next task and a zip added with ``addPyFile`` is read
when the task's path first names it, as before. On CPython >= 3.13 it
changes nothing. The driver process never imports it.

Executors must be able to import this package, as every engine Python
task already requires (the operator kernels are module-level functions
the workers import by name).
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install() -> None:
    """Make ``zipimport.zipimporter.invalidate_caches`` lazy (CPython < 3.13 only)."""
    if sys.version_info >= (3, 13):
        return
    invalidate = zipimport.zipimporter.invalidate_caches
    # archive path -> (inode, size, mtime_ns) taken before its last re-read
    read_stamps: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self):
        # stat first: a change made while reading shows as a new stamp
        stamp = _stamp(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if cached is not None and stamp is not None and read_stamps.get(self.archive) == stamp:
            # unchanged since re-read, maybe by another importer of the archive
            self._files = cached
        else:
            invalidate(self)
            read_stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    # stamp every archive start-up and the PySpark imports opened, once
    # for all the workers the daemon forks
    importlib.invalidate_caches()
    daemon.manager()
