"""Python-worker daemon for this engine: PySpark's own daemon plus a guard
on zip-archive cache invalidation.

Spark starts it as ``python -m binlake_spark.worker_daemon pyspark.worker``
(``spark.python.daemon.module``, set by :func:`binlake_spark.session.get_spark`)
and every Python worker is forked from it, so the guard covers every
Python task the engine runs.

Why: PySpark ends each task's set-up with ``importlib.invalidate_caches()``
(``pyspark/worker_util.py`` ``setup_spark_files``).  Before CPython 3.13,
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory every time, and the worker's ``sys.path`` holds ``pyspark.zip``,
the py4j zip and the spark-core jar with one importer per package
imported from them: ~16 directory parses, ~0.2 s of CPU, per task before
it touches a row.  The guard re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed since that importer last read it, so an
archive rewritten on disk (``sc.addPyFile`` of a new version) is still
picked up.  CPython 3.13 reads lazily and gets no guard.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def install_zip_cache_guard() -> bool:
    """Make ``zipimporter.invalidate_caches`` skip archives unchanged on
    disk since the importer last read them.  Idempotent; returns whether
    the guard is active on this interpreter."""
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_binlake_guard", False):
        return True
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or self.__dict__.get("_binlake_stamp") != stamp:
            reread(self)
            self._binlake_stamp = stamp

    invalidate_caches._binlake_guard = True
    cls.invalidate_caches = invalidate_caches
    return True


def main() -> None:
    install_zip_cache_guard()
    # importing pyspark.daemon loads the worker; one pass now stamps every
    # importer that exists, so forked workers start with warm stamps
    from pyspark import daemon

    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
