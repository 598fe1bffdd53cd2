"""The engine's Python worker daemon: ``pyspark.daemon`` whose workers import
the interpreter's own compiled pyspark.

Spark puts ``pyspark.zip``, ``py4j-*-src.zip`` and its ``spark-core`` jar at
the front of every Python worker's path. ``pyspark.zip`` ships only ``.py``
sources, and zipimport cannot cache bytecode, so every daemon and every
worker it forks compiles pyspark from source: about 0.7-0.9 s for the
daemon's import of pyspark, against 0.17 s from an installed copy with its
``__pycache__``. When the interpreter has the same pyspark release
installed (its ``pyspark/version.py`` byte-identical to the one in the zip)
and ``py4j`` importable, :func:`use_installed_pyspark` takes Spark's
archives off ``sys.path`` before anything imports pyspark, and drops their
finders from ``sys.path_importer_cache``.

Otherwise the archives stay. For them, and for any archive of the user's
own (``--py-files``), :func:`install` keeps each directory across tasks:
pyspark calls ``importlib.invalidate_caches()`` at the start of every
Python task, and ``zipimporter.invalidate_caches`` re-reads the whole
archive's directory once per importer, about 0.15 s of every task for
``pyspark.zip``. The patch re-reads an archive only when its
``(st_size, st_mtime_ns)`` has changed since its directory was last read.

Both run in the daemon before it forks any worker, so every worker
inherits them. ``session.get_spark`` names this module in
``spark.python.daemon.module``.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import zipimport
from importlib.machinery import PathFinder

#: basenames of the ``sys.path`` entries Spark adds for its workers
SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")

#: archive path -> its (st_size, st_mtime_ns) when its directory was last read
_read_at: dict[str, tuple[int, int] | None] = {}


def _spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return any(fnmatch.fnmatchcase(name, pattern) for pattern in SPARK_ARCHIVES)


def _installed_matches(zip_path: str, kept: list[str]) -> bool:
    """Whether ``kept`` finds a pyspark whose ``version.py`` is the one in
    ``zip_path``, and a py4j."""
    spec = PathFinder.find_spec("pyspark", kept)
    if spec is None or not spec.submodule_search_locations or PathFinder.find_spec("py4j", kept) is None:
        return False
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as fh:
            installed = fh.read()
        shipped = zipimport.zipimporter(zip_path).get_data("pyspark/version.py")
    except (OSError, zipimport.ZipImportError):
        return False
    return installed == shipped


def use_installed_pyspark() -> bool:
    """Take Spark's archives off ``sys.path`` when the path without them
    holds the same pyspark release and a py4j; leave the path alone and
    return False otherwise."""
    zips = [entry for entry in sys.path if os.path.basename(entry) == "pyspark.zip"]
    kept = [entry for entry in sys.path if not _spark_archive(entry)]
    if not zips or not _installed_matches(zips[0], kept):
        return False
    dropped = set(sys.path) - set(kept)
    sys.path[:] = kept
    for key, finder in list(sys.path_importer_cache.items()):
        if key in dropped or getattr(finder, "archive", None) in dropped:
            del sys.path_importer_cache[key]
    return True


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
    use_installed_pyspark()
    install()  # for the archives left on the path, the user's own included
    from pyspark.daemon import manager

    manager()
