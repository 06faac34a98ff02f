"""Per-task set-up savings for reused Spark Python workers.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and the daemon runs a full
``gc.collect()`` after every task of a reused worker
(``pyspark.daemon``). :func:`install` hooks both:

* Before CPython 3.13 ``invalidate_caches`` makes every zipimporter
  re-read its archive's directory, so a worker importing pyspark from
  ``pyspark.zip`` re-reads it ~14 times per task. The wrapped
  ``zipimporter.invalidate_caches`` re-reads an archive only when its
  ``(st_mtime_ns, st_size, st_ino)`` changed since the last read; a
  changed, missing or unreadable archive takes the original path.
* A worker that has loaded pyspark, pandas, pyarrow and this library
  holds a large long-lived heap that each ``gc.collect()`` scans again.
  :class:`FreezeOnTaskStart` calls ``gc.freeze()`` once, at the next
  task start: the daemon has just collected, so what it freezes is the
  long-lived heap, and later collections skip it.
"""

import gc
import os
import sys
import zipimport

reads = 0  # archive directory reads that went through the original


class FreezeOnTaskStart:
    """A ``sys.meta_path`` finder that finds nothing; its
    ``invalidate_caches``, which ``importlib.invalidate_caches()``
    calls at every task start, freezes the heap the first time."""

    frozen = False

    @staticmethod
    def find_spec(fullname, path=None, target=None):
        return None

    @classmethod
    def invalidate_caches(cls):
        if not cls.frozen:
            cls.frozen = True
            gc.freeze()


def install() -> None:
    """Install the freeze hook and, before 3.13, the zip directory
    cache (idempotent)."""
    if FreezeOnTaskStart not in sys.meta_path:
        sys.meta_path.append(FreezeOnTaskStart)
    if sys.version_info < (3, 13):
        _install_zip_cache()


def _install_zip_cache() -> None:
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
