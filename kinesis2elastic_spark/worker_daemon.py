"""PySpark daemon entry for this engine's Python workers.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
It runs :func:`pyspark.daemon.manager` unchanged, after making
``zipimport.zipimporter.invalidate_caches`` skip the re-read of an
archive's central directory while the archive is unchanged.

Why: PySpark calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark.worker_util.setup_spark_files``).  On CPython 3.11 and
3.12 every cached ``zipimporter`` then re-reads its whole archive
directory at once: ``pyspark.zip`` (3.5 MB, ~1,300 entries) once per
imported subpackage.  Measured at local[4] on a 4-vCPU host, that was
a mean of 647 ms of worker CPU per task, before the first row.  CPython
3.13 made the invalidation lazy, so there this module changes nothing.

The guard re-reads an archive when its ``(st_mtime_ns, st_size, st_ino)``
differs from the stat taken just before the last read of that archive, or
when ``stat`` fails; a rewritten archive is still picked up.  Importers of
an unchanged archive share the directory of that last read.  The daemon
reads each archive it has imported from once before it serves, so every
worker it forks starts with the guard installed and those archives read.

Imports: the standard library, and ``pyspark.daemon`` only when run as
the daemon (before the daemon reads the archives, so that the importers
its imports create are among those read).  The package ``__init__`` is
import-light, so the daemon starts as fast as PySpark's own.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (stat key taken before its last read, the directory read)
_last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stat_key(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that reuses the last directory read
    of ``self.archive`` while the archive's stat is unchanged."""
    try:
        key = _stat_key(self.archive)
    except OSError:
        key = None
    last = _last_read.get(self.archive)
    if key is not None and last is not None and last[0] == key:
        self._files = last[1]
        zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _reread(self)
    # A failed read leaves {} and drops the archive from the cache.
    if key is not None and zipimport._zip_directory_cache.get(self.archive) is self._files:
        _last_read[self.archive] = (key, self._files)
    else:
        _last_read.pop(self.archive, None)


def install() -> bool:
    """Put the guard on ``zipimporter`` (CPython < 3.13 only); True when
    it is in place after the call.  The daemon runs as ``__main__``, so
    the guard installed there is this file's ``__main__`` copy."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return True


def main() -> None:
    from pyspark.daemon import manager

    if install():
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, zipimport.zipimporter):
                finder.invalidate_caches()
    manager()


if __name__ == "__main__":
    main()
