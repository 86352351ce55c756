"""Python worker daemon of engine sessions (``spark.python.daemon.module``).

Spark starts one daemon per executor; the daemon forks the Python
workers that run every UDF, ``mapInPandas`` and ``applyInPandas`` task.
Before each task, pyspark's ``setup_spark_files`` calls
``importlib.invalidate_caches()``, and CPython 3.11's zip importer
answers that by reading the whole directory of its archive again
(CPython made it lazy only in 3.12, gh-103200).  A worker holds about 16
zip importers: a dozen on ``pyspark.zip`` (1,328 entries), two on the
spark-core jar (5,359 entries, ~53 ms a read) and two on the py4j zip.
Measured on ``local[4]`` (4-vCPU x86-64 VM), that is 0.20-0.26 s of CPU
per task before the UDF body runs.

This daemon changes that one method, then hands over to the stock
``pyspark.daemon.manager()``; every forked worker inherits the change.
An importer re-reads its archive only when the archive's
``(st_ino, st_mtime_ns, st_size)`` differs from the stamp taken before
its last read, or when ``stat`` fails; otherwise the call costs one
``stat``.  A py-file Spark adds or rewrites is renamed into place as a
fresh copy, so it gets a new inode and is re-read exactly as stock
CPython would read it.  Nothing else is preloaded before the fork.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (stamp taken before the read, the directory it read);
# process-wide, like zipimport's own _zip_directory_cache it sits beside
_read_at: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_ino, st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when it changed since its last read.  Importers on one archive share
    that read."""
    archive = self.archive
    try:
        stamp = _stamp(archive)
    except OSError:
        _read_at.pop(archive, None)
        _stock_invalidate(self)
        return
    last = _read_at.get(archive)
    if last is not None and last[0] == stamp:
        self._files = last[1]
        zipimport._zip_directory_cache[archive] = last[1]
        return
    _stock_invalidate(self)
    if zipimport._zip_directory_cache.get(archive) is self._files:
        _read_at[archive] = (stamp, self._files)  # the read succeeded
    else:
        _read_at.pop(archive, None)


def main() -> None:
    from pyspark import daemon

    if sys.version_info < (3, 12):  # 3.12's zipimporter already re-reads lazily
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # stamp and read each archive once here, so forked workers start warm
        for importer in list(sys.path_importer_cache.values()):
            if isinstance(importer, zipimport.zipimporter):
                importer.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run the importable copy, so the patched method names this module
    from tslearn_spark._daemon import main as _main

    _main()
