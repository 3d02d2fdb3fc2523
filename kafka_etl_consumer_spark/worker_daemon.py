"""Python worker daemon: ``pyspark.daemon`` with a stat-checked
``zipimporter.invalidate_caches``.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13 each
``zipimporter`` answers by re-reading its archive's whole central
directory in pure Python, so every task re-reads pyspark.zip, the py4j
zip and the spark-core jar once per imported sub-package. Here an
importer re-reads its archive only when the file's
``(st_mtime_ns, st_size)`` changed since the last read; otherwise it
takes the directory already in ``zipimport._zip_directory_cache``.
Forked workers inherit the patched class. ``session.get_spark`` names
this module in ``spark.python.daemon.module``.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int] | None] = {}  # archive -> stamp at its last read


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed since its last read."""
    # stat before reading: a rewrite during the read leaves an older
    # stamp, so the next call reads again
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


if __name__ == "__main__":
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    manager()
