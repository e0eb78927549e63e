"""Stat-guarded ``zipimporter.invalidate_caches`` for Python < 3.13.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task and every planner call (``worker_util.setup_spark_files``).  Before
3.13, each ``zipimporter`` answers by re-reading its archive's whole
central directory, and a worker holds one importer per pyspark package
imported from ``pyspark.zip``: ~17 re-reads of a 1,328-entry directory,
~0.2 s per call.  3.13 made the invalidation lazy (it drops the
cached directory; the next lookup reads it once).

The guard keeps the contract — an archive that changed on disk is re-read —
and skips the re-read when the archive's stat signature matches the one
taken before its last directory read.  All importers on one archive share
that read through ``zipimport._zip_directory_cache``, as they do in the
stdlib.  If the stat fails, the original method runs.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat signature taken just before its directory was last read
_read_under: dict[str, tuple] = {}


def _signature(path: str) -> tuple:
    st = os.stat(path)
    return (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches``; on Python >= 3.13
    leave it alone."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            sig = _signature(self.archive)
        except OSError:
            reread(self)
            return
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and _read_under.get(self.archive) == sig:
            self._files = files
            return
        reread(self)
        if self.archive in zipimport._zip_directory_cache:
            _read_under[self.archive] = sig

    zipimport.zipimporter.invalidate_caches = invalidate_caches
