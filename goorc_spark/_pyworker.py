"""Lazy zipimport cache invalidation for PySpark Python workers.

Every task a PySpark worker runs starts in ``worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. That calls
``invalidate_caches`` on every ``zipimport.zipimporter`` in
``sys.path_importer_cache``: one per package imported from
``$SPARK_HOME/python/lib/pyspark.zip`` (1328 entries) or the py4j zip, and on
CPython 3.10-3.12 each one re-reads its whole archive directory. On a 4-CPU
box that is ~114 ms per task, most of the time between a task's launch and
its UDF's unpickle.
"""
import os
import sys
import zipimport

_EAGER = (sys.implementation.name == "cpython"
          and (3, 10) <= sys.version_info[:2] <= (3, 12))
_STDLIB = zipimport.zipimporter.invalidate_caches
# archive path -> ((st_ino, st_size, st_mtime_ns) at its last re-read,
#                  the directory that re-read produced)
_seen: dict = {}


def _invalidate_caches(self):
    try:
        st = os.stat(self.archive)
    except OSError:
        _seen.pop(self.archive, None)
        return _STDLIB(self)
    key = (st.st_ino, st.st_size, st.st_mtime_ns)
    seen = _seen.get(self.archive)
    if seen is not None and seen[0] == key:
        self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _STDLIB(self)
    if self.archive in zipimport._zip_directory_cache:
        _seen[self.archive] = (key, self._files)


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``os.stat`` ``(st_ino, st_size, st_mtime_ns)`` differs from the one
    recorded at its last re-read, or when ``os.stat`` fails; a changed or
    vanished archive behaves exactly as with the stdlib method. Importers of
    one unchanged archive share the directory its last re-read produced.

    Idempotent. Does nothing outside CPython 3.10-3.12 (checked: 3.10.13,
    3.11.7 and 3.12.1 re-read eagerly; 3.13.0 only drops the cache entry
    and re-reads lazily on the next lookup)."""
    if _EAGER and not installed():
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches
