"""Stat-guarded ``zipimporter.invalidate_caches`` for Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). Before CPython 3.13 that
makes every ``zipimporter`` in ``sys.path_importer_cache`` re-parse its
archive's whole central directory: a PySpark 4.1.2 worker holds 16 of
them, over ``pyspark.zip`` (1,328 entries), the ``spark-core`` jar (5,359
entries) and py4j, for about 0.16 s of CPU per task before the task's
function runs.

``install()`` replaces the method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size, st_ino)`` differs from what that importer
saw at its last read, so a replaced ``--py-files`` archive is still picked
up. CPython 3.13 made zipimport's invalidation lazy itself, so nothing is
installed there. Importing ``goribot_spark`` installs the guard, which puts
it in every worker that unpickles one of the engine's UDFs.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STAMP = "_goribot_zip_stamp"


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _guard(reread):
    def invalidate_caches(self):
        # Stat before reading: an archive replaced mid-read keeps the old
        # stamp, so the next call reads it again.
        stamp = _stamp(self.archive)
        if stamp is not None and getattr(self, _STAMP, None) == stamp:
            return
        reread(self)
        setattr(self, _STAMP, stamp)

    invalidate_caches.__doc__ = reread.__doc__
    invalidate_caches.unguarded = reread
    return invalidate_caches


def installed() -> bool:
    return hasattr(zipimport.zipimporter.invalidate_caches, "unguarded")


def install() -> None:
    """Install the guard once per process; a no-op on CPython >= 3.13."""
    if sys.version_info >= (3, 13) or installed():
        return
    zipimport.zipimporter.invalidate_caches = _guard(
        zipimport.zipimporter.invalidate_caches
    )
