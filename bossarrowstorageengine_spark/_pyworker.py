"""Stat-gated ``zipimporter.invalidate_caches`` for Spark Python workers.

Spark runs ``pyspark.worker_util.setup_spark_files()`` at the start of every
Python worker task (executor reads/writes, UDFs, and the data-source planner
workers alike), and that function ends in ``importlib.invalidate_caches()``.
Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` first on the worker path,
so a worker holds one ``zipimporter`` per package directory of the zip, and
on CPython 3.11 each one re-reads the archive's whole central directory on
every invalidation: ~150-250 ms of every task, even in a reused worker.

Importing this module (the package ``__init__`` does so first) wraps the
method so an importer re-reads its archive only when the archive's
``(st_dev, st_ino, st_size, st_mtime_ns)`` differs from the stat taken at
that importer's last read.  A zip that changed on disk is still re-read,
which is what ``invalidate_caches`` exists for; the first call on each
importer always re-reads, and a failed ``os.stat`` falls through to the
original method.  Workers load the engine when they unpickle the data
source, a reader/writer or an engine UDF, and they are reused, so every
hop after a worker's first skips the re-read.
"""

from __future__ import annotations

import functools
import os
import zipimport


def _install() -> None:
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_stat_gated", False):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self._stat_at_read = None
            return original(self)
        stat = (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)
        if stat == getattr(self, "_stat_at_read", None):
            return None
        # The stat is taken before the read: a write racing the read
        # leaves a stat that no longer matches, so the next call re-reads.
        self._stat_at_read = stat
        return original(self)

    invalidate_caches._stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install()
