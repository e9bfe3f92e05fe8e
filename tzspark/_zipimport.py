"""Stat-guarded zipimporter refresh for Spark's Python workers.

Every Spark Python task starts in `pyspark.worker_util.setup_spark_files`,
which calls `importlib.invalidate_caches()`. On CPython 3.10-3.12 that calls
`zipimporter.invalidate_caches` on every cached zipimporter, and each call
eagerly re-parses its archive's whole central directory in pure Python. A
local-mode worker holds 16: 12 over `pyspark.zip` (1,328 entries each), 2
over the Spark jar on its PYTHONPATH (5,359 each) and 2 over the py4j zip,
26,672 entries per task.
That is 100-200 ms of worker time per task before the UDF runs, while the
lookup kernels of a 40k-image task take ~55 ms. CPython 3.13 made the
refresh lazy (it only drops the archive's cache entry).

`install_guarded_refresh` replaces the method, on CPython < 3.13 only, with
one that re-reads the archive only when its (st_ino, st_size, st_mtime_ns)
differs from what this importer last read, or when stat fails. A rewritten
or removed archive is still re-read at the same points as before; an
`addPyFile` archive is a new path and gets a fresh importer anyway.
Importing `tzspark` installs it, so every worker that unpickles a tzspark
kernel or a CompiledIndex has it for all later tasks (each importer's first
guarded refresh still reads, to record the stat). Idempotent.

Not a custom `spark.python.daemon.module`: when tzspark ships as
`--py-files`, the executors could not import the daemon module.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install_guarded_refresh() -> bool:
    """Guard zipimporter.invalidate_caches in this process. Returns True when
    the guard is in place, False where there is nothing to guard (CPython
    >= 3.13 refreshes lazily; < 3.10 has no per-archive refresh)."""
    cls = zipimport.zipimporter
    stdlib = getattr(cls, "invalidate_caches", None)
    if sys.version_info >= (3, 13) or stdlib is None:
        return False
    if stdlib.__module__ == __name__:  # already installed
        return True

    def invalidate_caches(self):
        """Re-read the archive only if its stat changed since this importer
        last read it (or stat fails)."""
        key = _stat_key(self.archive)
        if key is not None and key == self.__dict__.get("_tzspark_read_key"):
            return
        stdlib(self)
        # the stdlib drops the archive from the cache when the read fails
        read_ok = self.archive in zipimport._zip_directory_cache
        self._tzspark_read_key = key if read_ok else None

    invalidate_caches.__wrapped__ = stdlib
    cls.invalidate_caches = invalidate_caches
    return True
