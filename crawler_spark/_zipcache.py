"""Lazy zip-directory cache for ``zipimport.zipimporter`` (CPython 3.13's).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On Python 3.10–3.12
that makes every ``zipimporter`` re-read its archive's central directory at
once: in a worker, a dozen readers over ``pyspark.zip``, two over the py4j
zip and two over the ``spark-core`` jar, about 125 ms a task on a 4-core VM
(PROFILE.md, "Per-Python-task fixed cost"). Python 3.13 made the reader
lazy (``zipimporter._get_files``): ``invalidate_caches`` only drops the
archive from ``zipimport._zip_directory_cache``, and the next lookup
through that archive reads it once for all its readers.

This module installs the same behaviour when the package is imported. Every
package UDF imports ``crawler_spark`` when a worker unpickles it, so after a
reused worker's first task an archive is re-read only when an import
actually searches it, once for all its readers. It installs nothing where
``zipimporter`` already has ``_get_files``; delete it once the oldest
supported interpreter is 3.13.
"""

import sys
import zipimport


def _cached_files(self):
    """The archive's directory from the shared cache, read on a miss."""
    cache = zipimport._zip_directory_cache
    try:
        return cache[self.archive]
    except KeyError:
        try:
            files = cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            files = {}
        return files


def _keep_cached_files(self, files):
    """``zipimporter.__init__`` has already put ``files`` in the cache."""


def _drop_cached_files(self):
    """Forget the archive's directory; the next lookup re-reads it."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def _install(cls):
    """Make ``cls`` (a ``zipimporter``) read its directory lazily, unless it
    already does (3.13+) or has no ``invalidate_caches`` (before 3.10)."""
    if not hasattr(cls, "invalidate_caches") or hasattr(cls, "_get_files"):
        return
    cls._files = property(_cached_files, _keep_cached_files)
    cls.invalidate_caches = _drop_cached_files
    # Importers made before the install keep a private copy of their
    # directory that the property now shadows; release it.
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, cls):
            vars(importer).pop("_files", None)


_install(zipimport.zipimporter)
