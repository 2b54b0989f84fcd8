"""Python-worker daemon that re-reads a zip archive only when it changed.

Spark starts every Python worker through a daemon process and, before
each task, the worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On CPython 3.11 that asks
every ``zipimport.zipimporter`` on ``sys.path_importer_cache`` to
re-read its archive's whole central directory.  Workers import pyspark
from ``$SPARK_HOME/python/lib/pyspark.zip`` (first on their
``PYTHONPATH``), which holds ~1,300 entries and gets one importer per
imported subpackage, so a trivial task spent most of its time
re-parsing that one file, ~16 times over.

This module patches ``zipimporter.invalidate_caches`` so an archive is
re-read only when its ``(st_mtime_ns, st_size)`` differs from the last
read (or it was never read by the patched method), then runs pyspark's
own daemon.  Forked workers inherit the patch and the stamps.
``session.get_spark`` names this module in ``spark.python.daemon.module``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) of its last directory read
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """Reuse the cached directory of an archive whose stamp is unchanged;
    otherwise re-read it as zipimport does."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    if stamp is not None:
        _stamps[self.archive] = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    # read each archive once here, so forked workers start with stamps
    importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()
