"""Stat-checked zip-archive cache invalidation in Spark's Python workers.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
so that newly added py-files are found.  On Python 3.11 every
``zipimporter`` answers by re-reading its archive's whole directory: a
reused worker holds a dozen importers over ``pyspark.zip`` and two over
the spark-core jar, ~0.25 s of CPU per task before the function gets its
first batch.  ``install`` wraps ``zipimporter.invalidate_caches`` so an
importer re-reads only when its archive's ``(mtime_ns, size, inode)``
differs from the one it last read, or cannot be stat'ed.  A new path
entry gets a new importer anyway, and a rewritten archive changes its
signature, so a new py-file is still found.

The package installs it on import, and only inside a task (the worker
unpickling a package function), so the driver is never patched.  The
first task of a fresh worker still re-reads: its invalidation ran
before the package was imported.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def _signature(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` in a task's worker; a
    no-op on the driver and when already installed."""
    from pyspark import TaskContext

    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if TaskContext.get() is None or hasattr(original, "__wrapped__"):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        sig = _signature(self.archive)  # before the read: a rewrite during it re-reads next time
        if sig is None or sig != getattr(self, "_read_signature", None):
            original(self)
            self._read_signature = sig

    cls.invalidate_caches = invalidate_caches
    # This task's invalidation just re-read every live importer.
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, cls):
            importer._read_signature = _signature(importer.archive)
