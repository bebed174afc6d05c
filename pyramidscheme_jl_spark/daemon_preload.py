"""Custom pyspark daemon module that preloads the heavy imports.

PySpark's daemon forks one worker per task; anything imported here before
the fork is inherited copy-on-write, so workers skip the ~2 s
numpy/pandas/pyarrow (+ engine kernels) import on every fork — measured as
the dominant cost of UDF-heavy stages with many tasks (hundreds of
core-seconds per stage at 32 cores).

The second fork-time cost is zip re-reads. Every Python task runs
``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``; on Python 3.11 that makes every
``zipimporter`` on the worker's path re-read its archive's whole central
directory — 12 importers over ``pyspark.zip`` (1328 entries), 2 over the
py4j zip, 2 over the spark-core jar: ≈0.15 CPU-s per task before a row
is read. ``_install_zip_guard`` wraps ``zipimporter.invalidate_caches`` so an
archive is re-read only when its ``(st_mtime_ns, st_size)`` differs from
the stamp taken just before its last read. The stamp is kept per archive
path, so importers of one archive share one ``stat``. This is safe because
an archive changed in place moves its mtime (and almost always its size),
and one stamped before a read that raced a rewrite no longer matches, so
it is re-read; an ``addPyFile`` zip at a new path has no stamp and is read.
The guard is installed and every archive stamped here, before ``manager()``
forks any worker, so every worker inherits both.

Activated by ``spark.python.daemon.module=pyramidscheme_jl_spark.daemon_preload``
(set in session.get_spark, with the package root appended to the JVM's
PYTHONPATH so the daemon can import us).
"""

import importlib
import os
import zipimport

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401

try:  # engine kernels used inside every tile UDF
    from pyramidscheme_jl_spark.functions import cells, codec, reducers  # noqa: F401
except Exception:  # pragma: no cover - package not on daemon path yet
    pass

from pyspark.daemon import manager

_stock_invalidate = zipimport.zipimporter.invalidate_caches
#: archive path -> (st_mtime_ns, st_size) taken just before its last read;
#: process-wide, like zipimport's own ``_zip_directory_cache`` it guards
_zip_stamps: dict = {}


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _zip_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _zip_stamps[self.archive] = stamp
    _stock_invalidate(self)


def _install_zip_guard() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    importlib.invalidate_caches()  # one read + stamp per archive


if __name__ == "__main__":
    _install_zip_guard()
    manager()
