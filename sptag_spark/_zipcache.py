"""Stat-checked ``zipimporter.invalidate_caches`` for Python < 3.13.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Before 3.13,
``zipimporter.invalidate_caches`` eagerly re-parses its whole archive
directory, and a reused worker holds one zipimporter per imported
sub-package of ``pyspark.zip`` plus the Spark jar: 110-240 ms per task
for no work. The replacement re-reads an archive only when its
``(st_ino, st_mtime_ns, st_size)`` changed since the last read, so a
rewritten ``addPyFile`` zip is still picked up; otherwise it re-points
the importer at the shared directory cache. 3.13 made the call lazy.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` once (no-op on
    3.13+). Archives already cached count as read now: the worker's own
    task-start invalidation refreshed them just before this import."""
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(original, "__wrapped__"):
        return
    for archive in zipimport._zip_directory_cache:
        _stamps[archive] = _stamp(archive)

    @functools.wraps(original)
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None \
                and _stamps.get(self.archive) == stamp:
            self._files = cached
            return
        original(self)
        _stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
