"""Stat-gated zip import-cache refresh for PySpark Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark/worker_util.py``, ``setup_spark_files``).  On CPython
3.11 that makes every ``zipimporter`` on the worker's path re-read its
archive's central directory: a warm worker holds twelve importers into
``pyspark.zip``, two into the py4j zip and two into the ``spark-core``
jar, so every task re-reads about 27,000 directory entries before user
code runs (costs in docs/DESIGN.md "Serving cost model").

:func:`install` wraps ``zipimporter.invalidate_caches`` so that an
importer re-reads its archive only when the archive's
``(path, st_mtime_ns, st_size)`` differs from the last read.  A new
``--py-files``/``addPyFile`` archive is a new path and is read as
before; an archive rewritten in place changes its stat and is re-read.
Importers of one archive share the last directory read.

The package installs the gate on import (``docs_indexer_spark/__init__``)
and only inside a PySpark worker: unpickling any engine kernel imports
the package, so after a worker's first engine task every later task it
runs skips the re-reads.  The install records each archive already on the
path at its current stat, because the worker re-read all of them moments
earlier in the same task's ``setup_spark_files``.
"""

from __future__ import annotations

import os
import sys
import zipimport

# Process-wide state, as the patched class is: archive path ->
# ((st_mtime_ns, st_size), directory dict) at its last read
_read_at: dict[str, tuple[tuple[int, int], dict]] = {}
# directory reads the gate let through / re-reads it skipped (read by
# tests and BENCH/worker_imports_probe.py)
reads = 0
skips = 0


def _stat_key(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _on_worker() -> bool:
    files = sys.modules.get("pyspark.core.files")
    return bool(files and files.SparkFiles._is_running_on_worker)


def _gate(original):
    def invalidate_caches(self):
        global reads, skips
        key = _stat_key(self.archive)
        last = _read_at.get(self.archive)
        if key is not None and last is not None and last[0] == key:
            skips += 1
            self._files = last[1]
            return
        reads += 1
        original(self)
        if key is None:
            _read_at.pop(self.archive, None)
        else:
            _read_at[self.archive] = (key, self._files)

    invalidate_caches.__wrapped__ = original
    return invalidate_caches


def install() -> bool:
    """Gate ``zipimporter.invalidate_caches`` in this process when it is
    a PySpark worker.  Idempotent; a no-op on the driver and where
    ``zipimporter`` has no ``invalidate_caches``.  Returns whether the
    gate is in place."""
    cls = zipimport.zipimporter
    current = getattr(cls, "invalidate_caches", None)
    if current is None or not _on_worker():
        return False
    if current.__module__ != __name__:
        for importer in list(sys.path_importer_cache.values()):
            if isinstance(importer, cls):
                key = _stat_key(importer.archive)
                if key is not None:
                    _read_at[importer.archive] = (key, importer._files)
        cls.invalidate_caches = _gate(current)
    return True

