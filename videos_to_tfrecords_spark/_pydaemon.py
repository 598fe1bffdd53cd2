"""The engine's Python worker daemon: ``pyspark.daemon`` with a zip import
cache that survives ``importlib.invalidate_caches()``.

pyspark calls ``importlib.invalidate_caches()`` at the start of every Python
task, and ``zipimporter.invalidate_caches`` re-reads the whole archive's
directory once per importer: about 0.15 s of every task goes to re-reading
an unchanged ``pyspark.zip``. The patch below re-reads an archive only when
its ``(st_size, st_mtime_ns)`` has changed since its directory was last
read. It is installed in the daemon before the daemon forks any worker,
so every worker inherits it. ``session.get_spark`` names this module in
``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> its (st_size, st_mtime_ns) when its directory was last read
_read_at: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def install() -> None:
    """Patch ``zipimport`` to stamp every directory read and to skip a
    re-read whose archive still has its stamp; read each archive imported
    so far once more, so that it has a stamp."""
    read_directory = zipimport._read_directory
    reread = zipimport.zipimporter.invalidate_caches

    def _read_directory(archive: str) -> dict:
        stamp = _stamp(archive)  # taken first: a write during the read re-reads
        files = read_directory(archive)
        _read_at[archive] = stamp
        return files

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or files is None or _read_at.get(self.archive) != stamp:
            reread(self)
        else:
            self._files = files

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
