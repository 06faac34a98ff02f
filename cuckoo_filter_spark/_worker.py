"""Stat-checked zip directory cache for reused Spark Python workers.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13 that
makes every zipimporter re-read its archive's directory, so a worker
importing pyspark from ``pyspark.zip`` re-reads it ~14 times per task.
:func:`install` wraps ``zipimporter.invalidate_caches`` so an archive is
re-read only when its ``(st_mtime_ns, st_size, st_ino)`` changed since
the last read; a changed, missing or unreadable archive takes the
original path.
"""

import os
import zipimport

reads = 0  # archive directory reads that went through the original


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` (idempotent)."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "stat_checked", False):
        return
    seen = {}  # archive path -> stat key at its last read

    def invalidate_caches(self):
        global reads
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and seen.get(self.archive) == key:
            self._files = files
            return
        reads += 1
        original(self)
        seen[self.archive] = key

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
