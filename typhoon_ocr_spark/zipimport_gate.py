"""Stop Python workers re-reading unchanged zip archives at every task.

At the start of every task, ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``. Before CPython 3.13 that makes
every cached ``zipimporter`` re-read its whole archive directory
(``zipimporter.invalidate_caches`` calls ``_read_directory``): about a
dozen importers over ``pyspark.zip``'s ~1,300 entries, plus py4j and the
shipped engine zip, roughly 0.1 s per task on a 4-vCPU host. CPython
3.13 made the re-read lazy.

``install_in_worker`` swaps, once per Python worker, every cached
zipimporter (and the ``sys.path_hooks`` entry that makes new ones) for
a subclass that re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` changed. Driver processes and Python 3.13+
are left untouched.

The package ``__init__`` calls it, so the gate is in place whatever
engine module a worker unpickles first. cloudpickle pickles a UDF body
by value when its decorated name shadows the function, and the
engine functions it calls by reference: a worker running
``markdown_flatten_udf`` imports ``oracle.mdflatten`` and never the
``functions`` package.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StampedZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches`` re-reads the archive
    directory only when the file changed since the last read."""

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_stamp", None):
            # stat before the read: a change during the read re-reads next time
            super().invalidate_caches()
            self._stamp = stamp


def install() -> None:
    """Gate every cached zipimporter and the path hook. A cached
    importer's directory is taken as current: in a worker it was
    re-read by the ``invalidate_caches`` that opened this task. New
    importers read once more at their first invalidation."""
    if StampedZipImporter in sys.path_hooks:
        return
    for importer in list(sys.path_importer_cache.values()):
        if type(importer) is zipimport.zipimporter:
            importer.__class__ = StampedZipImporter
            importer._stamp = _stamp(importer.archive)
    sys.path_hooks[:] = [
        StampedZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]


def install_in_worker() -> None:
    """``install`` inside a Python worker on CPython < 3.13; no-op
    elsewhere (the driver keeps the stock import machinery). A process
    that hasn't imported pyspark's task context is not a worker, and
    importing the engine there must not load pyspark."""
    if sys.version_info >= (3, 13):
        return
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is not None and taskcontext.TaskContext.get() is not None:
        install()
