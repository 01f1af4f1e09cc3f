"""Python worker daemon that stops every task from re-reading zip archives.

Every Python task Spark runs begins with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), so that files shipped by
``addPyFile`` become importable. Workers import pyspark from
``pyspark.zip``, and their import cache holds one ``zipimporter`` per
pyspark subpackage (about 16) plus one for the spark-core jar on the
path. On Python <= 3.12 ``zipimporter.invalidate_caches`` eagerly
re-reads its whole archive directory: about 13 ms per pyspark importer
and 54 ms for the jar, 0.27-0.30 s of every task (4 cores, Python
3.11.7, pyspark 4.1.2), paid by every pandas UDAF, RDD, ``mapInPandas``
and UDTF task whatever its data size.

Run as ``spark.python.daemon.module`` (``session.get_spark`` sets it),
this module replaces that method with one that re-reads an archive only
when the file's ``(st_mtime_ns, st_size, st_ino)`` changed since the
last read, and otherwise points the importer at the directory already
in ``zipimport._zip_directory_cache``. It stamps the archives the
daemon itself has read, then runs the stock ``pyspark.daemon.manager``.
Workers fork from the daemon, so they inherit the patch and the stamps,
and even a worker's first task is cheap. An archive added or rewritten
later (``addPyFile``) is read once when it changes.

Python 3.13 made ``zipimporter.invalidate_caches`` lazy (it only drops
the cache entry), so there this module only runs the stock manager.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
#: archive path -> file stamp when its directory was last read
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed since the last read. The
    stamp is taken before the read, so a change racing the read makes
    the next call read again."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stamps.pop(self.archive, None)
    _stock_invalidate_caches(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (Python < 3.13) and stamp
    every archive whose directory this process has already read."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for archive in list(zipimport._zip_directory_cache):
        stamp = _stamp(archive)
        if stamp is not None:
            _stamps[archive] = stamp


if __name__ == "__main__":
    # Importing the stock daemon imports pyspark's worker from its
    # archives; install afterwards so those reads are stamped.
    from pyspark.daemon import manager

    install()
    manager()
