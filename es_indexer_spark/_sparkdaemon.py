"""Spark Python daemon that keeps each worker's zip-import cache across tasks.

``get_spark`` sets ``spark.python.daemon.module`` to this module. Spark
launches it as ``python -m es_indexer_spark._sparkdaemon pyspark.worker``;
it patches ``zipimport`` and then runs ``pyspark.daemon.manager()``, which
forks the Python workers, so every worker inherits the patch.

Why: pyspark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). On CPython
3.10-3.12 ``zipimporter.invalidate_caches`` re-reads the archive's whole
central directory in pure Python, and a worker holds a dozen importers on
``pyspark.zip``, the py4j zip and the spark-core jar: about 28k directory
entries parsed per task, ~250 ms before any task code runs. The patched
method re-reads an archive only when its ``os.stat`` (mtime, size, inode)
differs from the read it last made, so changed archives and new
``sys.path`` entries are still picked up. CPython 3.13 only drops the
cache there, so it is left alone.

The daemon protocol reads the listening port from stdout, so nothing here
may print before ``manager()`` runs.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def patch_zipimport():
    """Make ``zipimporter.invalidate_caches`` skip archives unchanged since
    their last read. Returns the method it replaced, for restoring, or None
    when nothing was patched (CPython >= 3.13 or no such method)."""
    reread = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if sys.version_info >= (3, 13) or reread is None:
        return None
    # archive -> ((mtime_ns, size, inode) before the read, the files read)
    read_at: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            read_at.pop(self.archive, None)
            return reread(self)
        sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        seen = read_at.get(self.archive)
        if seen is not None and seen[0] == sig:
            self._files = seen[1]
            zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        reread(self)
        if zipimport._zip_directory_cache.get(self.archive) is self._files:
            read_at[self.archive] = (sig, self._files)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return reread


if __name__ == "__main__":
    if patch_zipimport() is not None:
        # read each archive once here, so forked workers start with
        # current directories and no per-task re-read
        importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()
