"""Python worker daemon of :func:`session.get_spark` sessions.

Every Python-worker task (Arrow/pandas UDF, ``mapInArrow``) starts in
``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. Before CPython 3.13 that re-reads the
central directory of every archive a cached ``zipimporter`` serves
(``pyspark.zip``, the spark-core jar): 100-200 ms per task. 3.13 made the
call cheap. Before forking workers, this daemon patches
``zipimporter.invalidate_caches`` to re-read an archive only when its
``(st_mtime_ns, st_size)`` changed since it was last read. An archive first
seen later (an ``addPyFile`` zip) is re-read once and then stamped. On 3.13+
the daemon only delegates to ``pyspark.daemon``.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size


def patch_zipimport() -> None:
    """Re-read a zip archive on invalidation only if it changed on disk."""
    if sys.version_info >= (3, 13):
        return
    # Stamped before the daemon imports pyspark from these archives, so a
    # write in between costs one extra re-read, never a stale directory.
    stamps = {path: _stamp(path) for path in sys.path if os.path.isfile(path)}
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            stamp = _stamp(self.archive)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and stamps.get(self.archive) == stamp and files is not None:
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    patch_zipimport()
    from pyspark import daemon

    daemon.manager()
