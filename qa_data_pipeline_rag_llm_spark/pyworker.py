"""The engine's Python worker daemon (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` once per task
(``pyspark/worker_util.py::setup_spark_files``). Up to CPython 3.12 every
``zipimport.zipimporter`` answers that by re-reading its archive's whole
directory at once: a worker holds ~16 importers over ``pyspark.zip``
(~1.3k entries) and the spark-core jar (~5.4k entries), so each task paid
~250 ms of CPU before its UDF ran. CPython 3.13 made invalidation lazy
(``zipimporter._get_files``): it drops the archive's entry from the shared
``_zip_directory_cache`` and the directory is re-read on its next lookup,
once for all importers of that archive.

Importing this module backports those semantics onto interpreters that
lack ``_get_files`` (and patches nothing where it exists). Run as
``__main__`` it then runs ``pyspark.daemon``, so every worker the daemon
forks inherits the patch. ``session.get_spark`` selects it.
"""

from __future__ import annotations

import runpy
import zipimport


def _get_files(self):
    """The archive's directory: the shared cache entry, read on a miss
    (3.13's ``zipimporter._get_files``)."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _invalidate_caches(self):
    """Drop the archive's directory; the next lookup re-reads it."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> bool:
    """Make zipimporter cache invalidation lazy; False when the
    interpreter already is (CPython 3.13+) or it was installed before."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files"):
        return False
    cls._get_files = _get_files
    # every ``self._files`` read goes through the shared cache; the
    # assignment in ``__init__`` (already cached there) is dropped
    cls._files = property(_get_files, lambda self, files: None)
    cls.invalidate_caches = _invalidate_caches
    return True


install()

if __name__ == "__main__":
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
