"""PySpark worker daemon whose tasks skip re-reading unchanged zip archives.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. Under CPython 3.11 each ``zipimporter`` then re-reads its
archive's whole central directory, and a worker that imports pyspark from
``pyspark.zip`` holds one importer per subpackage: ~100 ms of CPU per task
before it touches a row. ``install()`` re-reads only an archive whose
``(inode, size, mtime)`` changed since its last read, or whose directory
left the cache. ``session.get_spark`` sets this module as
``spark.python.daemon.module``; run as ``__main__`` it installs the guard
and then runs the stock ``pyspark.daemon.manager()``.
"""

from __future__ import annotations

import os
import zipimport

_original = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int]] = {}


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and stamp == _stamps.get(self.archive) and files is not None:
        self._files = files
        return
    # stamp taken before the read: a rewrite racing the read re-reads next time
    _original(self)
    if stamp is None:
        _stamps.pop(self.archive, None)
    else:
        _stamps[self.archive] = stamp


def install() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
