"""Python-worker bootstrap for local sessions: PySpark's daemon with lazy
zip-importer invalidation.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``).  Before CPython
3.13, that makes every ``zipimporter`` on the worker re-read its
archive's whole directory at once.  A warm worker holds 16 of them: 12
over ``pyspark.zip``, 2 over the py4j zip and 2 over the spark-core
jar, ~8k entries in all.  The re-reads cost ~0.2 s per task on a
4-vCPU box, more than most serving tasks' kernels.  CPython 3.13 made
the invalidation lazy: it drops the shared directory entry, and the
next lookup in that archive reads it again.

``session.get_spark`` runs this module as ``spark.python.daemon.module``
for local masters.  On Python < 3.13 it backports the lazy invalidation,
then hands over to the stock ``pyspark.daemon.manager()``.  The daemon
forks every worker, so every worker inherits the patch.  On 3.13 and
later it only hands over.  A zip added with ``SparkContext.addPyFile``
still becomes importable in the next task: the task's invalidation
drops the stale directory and the import reads the new one.
"""

from __future__ import annotations

import sys


def lazy_zip_invalidation() -> bool:
    """Make ``zipimporter.invalidate_caches`` drop the archive's shared
    directory instead of re-reading it; the next lookup reads it.
    Returns whether the patch applies (Python 3.10-3.12, the versions
    whose invalidation is eager)."""
    import zipimport

    if sys.version_info >= (3, 13) or not hasattr(
        zipimport.zipimporter, "invalidate_caches"
    ):
        return False

    class _Directories(dict):
        """Archive path → directory, read on the first lookup after a
        drop; ``pkgutil`` indexes this dict directly, so a dropped
        entry must read back, not raise ``KeyError``."""

        def __missing__(self, archive):
            files = self[archive] = zipimport._read_directory(archive)
            return files

    def files(self):
        try:
            return zipimport._zip_directory_cache[self.archive]
        except zipimport.ZipImportError:
            return {}

    def invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    zipimport._zip_directory_cache = _Directories(zipimport._zip_directory_cache)
    # a data descriptor outranks the ``_files`` instance attribute of
    # importers made before the patch; ``__init__`` only ever assigns
    # the entry it has just put in the shared cache, so the setter
    # drops it
    zipimport.zipimporter._files = property(files, lambda self, value: None)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    lazy_zip_invalidation()
    from pyspark.daemon import manager

    manager()
