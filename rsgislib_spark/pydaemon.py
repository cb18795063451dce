"""PySpark worker daemon whose workers skip unchanged zip re-reads.

Every Python task starts with ``importlib.invalidate_caches()``
(pyspark ``worker_util.setup_spark_files``), and every ``zipimporter``
on ``sys.path`` answers it by re-reading its archive's central
directory: pyspark.zip once per imported package of it, plus the
spark-core jar. That is ~0.23 s per task on CPython 3.11 and 3.12.
Here the re-read happens only when the archive's
``(st_mtime_ns, st_size, st_ino)`` changed since it was last read, so
a rewritten or newly added ``--py-files`` zip is still picked up.

Run as ``spark.python.daemon.module`` (``session.get_spark`` sets it
when the workers can import this package); the patch is installed
before ``pyspark.daemon.manager()`` forks, so every worker inherits it.
"""

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_read: dict = {}  # archive path -> (stat key, directory read at that key)


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self) -> None:
    key = _stat_key(self.archive)
    seen = _read.get(self.archive)
    if key is not None and seen is not None and seen[0] == key:
        self._files = seen[1]
        zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _stock_invalidate(self)
    if key is not None and self.archive in zipimport._zip_directory_cache:
        _read[self.archive] = (key, self._files)


def install() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    importlib.invalidate_caches()  # read each archive once, before forking
    from pyspark import daemon

    daemon.manager()
