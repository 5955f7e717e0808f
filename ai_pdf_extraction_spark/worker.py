"""Once-per-worker set-up for the engine's Python UDFs.

A reused Python worker runs pyspark's per-task set-up before every
task. ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on Python < 3.13 that makes
every cached ``zipimporter`` re-read its whole archive directory:
pyspark.zip and the spark-core jar on the worker's path. In a
1,000-doc extraction over 8 tasks on 4 vCPUs that was ~0.16 s of CPU
per task, twice the UDF body's ~0.08 s. Between tasks the daemon runs
``gc.collect()`` over the import-time heap (pandas, pyarrow, pyspark,
the kernels: ~74k objects). Each UDF body calls
:func:`prepare_worker` at its lazy-import point, so the first call in a
worker removes both costs; the driver and the oracle process are left
as they are.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

from pyspark.taskcontext import TaskContext

_DONE = False


def prepare_worker() -> None:
    """In a Spark task, once per process: make zip importers re-read an
    archive only when it changed, then freeze the heap imported so far
    so the daemon's per-task full collection skips it. A no-op outside
    a task (no ``TaskContext``) and on every later call."""
    global _DONE
    if _DONE:
        return
    _DONE = True
    if TaskContext.get() is None:
        return
    reread_zips_on_change()
    gc.freeze()


def _stat_stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def reread_zips_on_change() -> None:
    """Wrap ``zipimporter.invalidate_caches`` so an importer re-reads
    its archive's directory only when the archive's (mtime, size,
    inode) differs from what it saw at its last read: Python 3.13's
    lazy invalidation, keeping the re-read when an archive really
    changes. Importers cached now are stamped with their archive as it
    is (each read it at its creation or at the task set-up's
    invalidation); one created later re-reads once, at its first
    invalidation. Idempotent."""
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    if getattr(reread, "rereads_on_change", False):
        return

    def invalidate_caches(self) -> None:
        stamp = _stat_stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            reread(self)
            self._archive_stamp = stamp

    invalidate_caches.rereads_on_change = True
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder._archive_stamp = _stat_stamp(finder.archive)
    cls.invalidate_caches = invalidate_caches
