"""Spark's Python worker daemon, with zip archives re-read only when changed.

Run as ``python -m <this module>`` by Spark (``spark.python.daemon.module``
in ``session._BASE_CONF``). Before every task, pyspark's worker calls
``importlib.invalidate_caches()``, and on Python 3.11 each zipimporter
answers by re-reading its archive's whole central directory: ``pyspark.zip``,
the spark-core jar and the py4j zip, 16 importers and ~26,700 entries, about
0.1 s per task. Here an archive is re-read only when its
``(st_mtime_ns, st_size)`` differs from the one this process last read, so a
new or rewritten archive (``addPyFile``) is still re-read. The daemon reads
each archive once before it forks; every worker inherits that state.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only when
    its stamp is new to this process or cannot be read; otherwise the
    importer takes the directory this process last read. A rewrite that
    keeps both the size and the mtime (to the nanosecond) goes unseen."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp


if __name__ == "__main__":
    import pyspark.daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # read each archive once, before the fork
    pyspark.daemon.manager()
