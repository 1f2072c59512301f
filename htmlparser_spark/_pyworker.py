"""Python-worker fix for the per-task zip re-read of CPython 3.10-3.12.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``) so that files added with
``addPyFile`` become importable. On CPython 3.10-3.12 that call makes every
``zipimporter`` in ``sys.path_importer_cache`` re-parse its archive's whole
central directory. A reused worker holds one importer per package directory
it has imported from ``pyspark.zip`` (1,328 entries) and the py4j zip, so
each task re-reads the same archive a dozen times or more: 0.14-0.2 CPU-s
of fixed cost per task, more than a small kernel batch costs. CPython 3.13
made the invalidation lazy.

Loaded inside a Spark task, this module makes
``zipimporter.invalidate_caches`` re-read an archive only when its
``(st_mtime_ns, st_size, st_ino)`` changed since that importer last read
it, so a rewritten zip is still picked up by the next task. The importers
that exist when it loads are stamped as read: the task that imports the
package has just re-read them in its setup. On the driver, outside a task,
and on CPython >= 3.13 it changes nothing. The package ``__init__`` imports
it, so every stage whose function pickles by reference to the package
loads it on the worker's first such task.
"""
from __future__ import annotations

import os
import sys
import weakref
import zipimport

# importer -> stat key of its archive when the importer last read it
_read_at: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _reread_if_changed(self, _reread=zipimport.zipimporter.invalidate_caches):
    # stat BEFORE the re-read: a write that lands during it leaves a stale
    # key, so the next invalidation reads the archive again
    key = _stat_key(self.archive)
    if key is None or _read_at.get(self) != key:
        _reread(self)
        _read_at[self] = key


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` if this process is a Python
    worker running a Spark task on CPython 3.10-3.12. Returns whether the
    lazy re-read is active. Idempotent."""
    if not (3, 10) <= sys.version_info[:2] < (3, 13):
        return False
    if zipimport.zipimporter.invalidate_caches is _reread_if_changed:
        return True
    # only a Python worker sets a task context; on the driver
    # TaskContext.get() is None (and pyspark may not be imported at all)
    tc = sys.modules.get("pyspark.taskcontext")
    if tc is None or tc.TaskContext.get() is None:
        return False
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            _read_at[importer] = _stat_key(importer.archive)
    zipimport.zipimporter.invalidate_caches = _reread_if_changed
    return True


def active() -> bool:
    """Whether this process re-reads zip archives only when they change."""
    return zipimport.zipimporter.invalidate_caches is _reread_if_changed


def report(batches):
    """mapInArrow function (schema ``active boolean``) reporting, from
    inside the task, whether its worker re-reads zips only when they
    change. It pickles by reference, so running it loads the fix."""
    import pyarrow as pa

    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"active": [active()]})
