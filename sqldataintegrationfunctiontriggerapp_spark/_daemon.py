"""PySpark worker daemon with CPython 3.13's lazy zip-importer invalidation.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. Before CPython 3.13 each ``zipimporter`` answers by re-reading
its archive's central directory on the spot: 16 importers over pyspark.zip
(1,328 entries) and the spark-core jar (5,359), 0.18-0.25 s per task on a
4-core host. 3.13 only drops the archive's shared cache entry and re-reads
it on the next lookup, so a changed or added archive (``addPyFile``) is
still seen. ``install`` backports that; ``get_session`` names this module
as ``spark.python.daemon.module``, so every forked worker inherits it.
"""

import sys
import zipimport


def _get_files(self):
    # 3.13's zipimporter._get_files: the shared cache, re-read on a miss
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
    zipimport._zip_directory_cache.pop(self.archive, None)


def install():
    """Make zipimporter invalidation lazy; changes nothing on 3.13+."""
    if sys.version_info >= (3, 13):
        return
    # __init__ assigns _files from the cache it just filled; the setter
    # drops that assignment so every lookup goes through the cache
    zipimport.zipimporter._files = property(_get_files, lambda self, v: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    import pyspark.daemon

    install()
    pyspark.daemon.manager()
