"""PySpark worker daemon that re-reads a zip's directory only when it changes.

Before each task a PySpark worker calls ``importlib.invalidate_caches()``.
On Python < 3.13 that makes every cached ``zipimport.zipimporter`` re-read
its archive's whole directory; a worker holds ~16 of them over
``pyspark.zip`` (1,328 entries), which costs ~0.59 s per task. Run as
``spark.python.daemon.module`` (set by ``session.get_spark``), this module
replaces ``zipimporter.invalidate_caches`` with a version that re-reads an
archive only when its ``(st_mtime_ns, st_size, st_ino)`` differ from those
at its last read, then hands over to ``pyspark.daemon.manager()``. Python
3.13 made that invalidation lazy, so there the module changes nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> its stat stamp taken just before its directory was last read
_read_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def guarded_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate(self)
    _read_stamps[self.archive] = stamp


def install() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = guarded_invalidate_caches


if __name__ == "__main__":
    import importlib

    from pyspark.daemon import manager

    install()
    # read each archive once here, so forked workers inherit fresh stamps
    importlib.invalidate_caches()
    manager()
