"""Python worker daemon: the stock ``pyspark.daemon`` with a cheaper
import-cache invalidation.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``).  On CPython 3.11 that makes every
cached ``zipimporter`` re-read its archive's central directory — once per
cached package path inside ``pyspark.zip`` (a dozen or more), costing a
Python task about 0.2 s before it reads a row.

:class:`StampedZipImporter` re-reads an archive only when its
(mtime, size) stamp differs from the one it last read at, so an archive
rewritten between tasks is still picked up and imports resolve exactly as
they do under the stock importer.  ``session.get_spark`` points
``spark.python.daemon.module`` here; run as ``python -m
planet_dump_ng_spark.worker_daemon`` it installs the importer, then hands
over to ``pyspark.daemon.manager``, whose forked workers inherit it.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StampedZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose ``invalidate_caches`` skips the re-read of
    an archive unchanged since this importer last read it."""

    _read_at: tuple[int, int] | None = None

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        if stamp is not None and stamp == self._read_at:
            return
        super().invalidate_caches()
        self._read_at = stamp


def install() -> None:
    """Make every new and every cached zip path finder a
    :class:`StampedZipImporter`, and record each one's stamp."""
    sys.path_hooks[:] = [
        StampedZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            sys.path_importer_cache[path] = StampedZipImporter(path)
    importlib.invalidate_caches()


if __name__ == "__main__":
    # import the daemon (and with it the worker) first, so the finders
    # its imports cached are stamped here, before any worker forks
    from pyspark.daemon import manager

    install()
    manager()
