"""Stat-checked ``zipimporter.invalidate_caches`` for Python UDF workers.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start
of every task.  On CPython 3.11 and 3.12 that makes every zipimporter
re-read its archive's whole central directory; a worker importing
pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` holds ~16 of them,
~0.2 s of Python CPU per task before the first row.  The wrapper
below re-reads an archive only when its (inode, size, mtime) differs
from the one it last read at.  CPython 3.13 drops the directory and
re-reads it lazily, so there is nothing to install there.
"""

import os
import sys
import zipimport


def install() -> None:
    """Install the stat-checked ``invalidate_caches``; idempotent."""
    zipimporter = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(zipimporter.invalidate_caches, "_stat_checked"):
        return
    reread = zipimporter.invalidate_caches
    read_at: dict = {}  # archive -> (stat key, directory read at that key)

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        seen = read_at.get(self.archive)
        if seen is not None and seen[0] == key:
            self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        reread(self)  # stat taken before the read: a concurrent rewrite re-reads next time
        read_at[self.archive] = (key, self._files)

    invalidate_caches._stat_checked = True
    zipimporter.invalidate_caches = invalidate_caches
