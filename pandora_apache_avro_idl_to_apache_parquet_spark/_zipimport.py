"""Lazy zip-directory reload for Spark Python workers (CPython < 3.13).

PySpark calls ``importlib.invalidate_caches()`` before every task
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13, every
``zipimporter`` in ``sys.path_importer_cache`` then re-reads its archive's
whole directory at once, in pure Python: a warm worker holds about a dozen
importers into ``pyspark.zip`` and two into the spark-core jar, so each task
paid ~0.2 CPU-s before any user code ran. CPython 3.13 made the reload lazy:
``invalidate_caches()`` drops the archive's one shared directory entry and
the next lookup re-reads it. This module backports that behaviour.
"""

from __future__ import annotations

import sys
import zipimport

_cache = getattr(zipimport, "_zip_directory_cache", None)
_read_directory = getattr(zipimport, "_read_directory", None)


class LazyZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose directory lives only in the shared cache."""

    @property
    def _files(self):
        try:
            return _cache[self.archive]
        except KeyError:
            try:
                files = _cache[self.archive] = _read_directory(self.archive)
            except zipimport.ZipImportError:
                files = {}
            return files

    @_files.setter
    def _files(self, value):
        pass  # __init__ assigns the directory it has just cached

    def invalidate_caches(self):
        _cache.pop(self.archive, None)


def install() -> None:
    """Make zip-directory reloads lazy in this process if it is a Spark
    Python worker on CPython < 3.13; otherwise do nothing. Idempotent."""
    if sys.version_info >= (3, 13) or _cache is None or _read_directory is None:
        return
    # a worker has imported pyspark.taskcontext before it runs any task
    tc = sys.modules.get("pyspark.taskcontext")
    if tc is None or tc.TaskContext.get() is None:
        return
    sys.path_hooks[:] = [LazyZipImporter if h is zipimport.zipimporter else h
                         for h in sys.path_hooks]
    for finder in list(sys.path_importer_cache.values()):
        if type(finder) is zipimport.zipimporter:
            finder.__dict__.pop("_files", None)  # a stale private copy
            finder.__class__ = LazyZipImporter
