"""A fixed per-task cost of pyspark's Python workers, and its guard.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (pyspark/worker_util.py:144, in ``setup_spark_files``). On
CPython 3.11 and 3.12 that makes every cached ``zipimport.zipimporter``
re-read its archive's central directory eagerly (CPython 3.11.7
Lib/zipimport.py:329-336). A worker holds one importer per package
directory it has imported from pyspark.zip -- 16 in a MapReduce job's
worker, over an archive of 1,328 entries -- so every task began with
0.23-0.35 s of re-reads, twice per MapReduce job (its map task and its
reduce task). CPython 3.13 made the re-read lazy (CPython 3.13.0
Lib/zipimport.py:276-278), so there the guard is not installed.

The guard re-reads an archive only when its ``(st_ino, st_size,
st_mtime_ns)`` differs from the last re-read, so an archive rewritten
on disk is still re-read on the next invalidation. A worker imports
this package when it unpickles engine code (for a MapReduce job, the
client), and a reused worker keeps the patched class, so from then on
a task's invalidation costs one ``stat`` per importer.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def install_zipimport_guard() -> None:
    """Replace ``zipimporter.invalidate_caches`` with the stat-guarded
    version. Does nothing on CPython >= 3.13 or when already installed."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(cls.invalidate_caches, "stat_guarded"):
        return
    reread = cls.invalidate_caches
    # archive path -> (stat signature, directory) of its last re-read.
    # Every importer of one archive shares one directory, as zipimporter()
    # itself arranges through zipimport._zip_directory_cache.
    last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}

    @functools.wraps(reread)
    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        sig = (st.st_ino, st.st_size, st.st_mtime_ns)
        seen = last_read.get(self.archive)
        if seen is None or seen[0] != sig:
            reread(self)
            last_read[self.archive] = (sig, self._files)
        else:
            self._files = seen[1]
            zipimport._zip_directory_cache[self.archive] = seen[1]

    invalidate_caches.stat_guarded = True
    cls.invalidate_caches = invalidate_caches
