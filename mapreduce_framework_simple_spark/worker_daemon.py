"""Python worker daemon of local sessions: ``pyspark.daemon`` plus one patch.

PySpark calls ``importlib.invalidate_caches()`` at the start of every task
(``pyspark/worker_util.py::setup_spark_files``). Before CPython 3.13 that
makes every zipimporter re-read its whole archive directory: in a worker,
16 importers on ``pyspark.zip``, the spark-core jar and py4j, about 28k
entries and about 0.2 CPU-s per task. The patch records the
``(st_mtime_ns, st_size)`` of an archive each time its directory is read
and skips the re-read while the archive still has them. A changed,
missing or unreadable archive takes the stock path, and FileFinder
invalidation, which makes ``addPyFile`` files visible, is untouched.
Workers are forked from the daemon, so they inherit the patch and the
stamps.
"""

from __future__ import annotations

import os
import sys
import zipimport


_stock_read = zipimport._read_directory
_stock_invalidate = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int] | None] = {}  # archive -> stamp of its last read


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read_directory(archive):
    stamp = _stamp(archive)  # before the read: a write during it reads again
    files = _stock_read(archive)
    _read_at[archive] = stamp
    return files


def _invalidate_caches(self):
    files = zipimport._zip_directory_cache.get(self.archive)
    stamp = _stamp(self.archive)
    if files is None or stamp is None or _read_at.get(self.archive) != stamp:
        _stock_invalidate(self)
    else:
        self._files = files


if sys.version_info < (3, 13):  # 3.13 invalidates lazily on its own
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = _invalidate_caches

if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    # the package's import of pyspark.sql read pyspark.zip before the
    # patch: stamp it once here, not in the first task of every worker
    importlib.invalidate_caches()
    daemon.manager()
