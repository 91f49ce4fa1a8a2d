"""Python worker daemon: ``pyspark.daemon`` with stat-checked zip caches.

Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` so that files added with ``addPyFile``
become importable. On CPython < 3.13 that makes every cached
``zipimporter`` re-read its archive's whole directory: the ~14 importers
over ``pyspark.zip`` (1328 entries) and the one over the spark-core jar
(5359 entries) cost ~0.2 s of CPU per task. This daemon re-reads an
archive only when its ``(st_mtime_ns, st_size)`` changed since that
importer last read it, then runs the stock ``pyspark.daemon.manager()``.
Directory finders are still invalidated, so ``addPyFile`` keeps working.
CPython >= 3.13 only drops the cache entry, so nothing is patched there.

Run by the executor as ``python -m distributed_map_reduce_spark.worker_daemon``
(``spark.python.daemon.module``, set by :func:`session.get_spark`).
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:  # archive gone: the stdlib drops it
        vars(self).pop("_read_stamp", None)
        _stdlib_invalidate(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    if getattr(self, "_read_stamp", None) != stamp:
        _stdlib_invalidate(self)  # stat before read: a later rewrite re-reads
        self._read_stamp = stamp


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches``; False where the stdlib
    method is already cheap (CPython >= 3.13)."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return True


if __name__ == "__main__":
    patched = install()
    from pyspark import daemon  # imports pyspark.worker: most importers

    if patched:
        # Stamp the importers the daemon holds, once, before the first
        # fork: every forked worker inherits them read and stamped.
        importlib.invalidate_caches()
    daemon.manager()
