"""The Python worker daemon Spark starts for this package's sessions
(``spark.python.daemon.module``, set by :func:`session.get_spark`): PySpark's
own daemon with a zip import cache that survives across tasks.

Every task a worker runs calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython before 3.13 each
``zipimporter`` answers by re-reading its archive's central directory, and a
worker holds one importer per package directory inside ``pyspark.zip``, the
py4j zip and the spark-core jar Spark puts on the worker ``PYTHONPATH``:
about 27k directory entries parsed per task, 0.1-0.5 s of a no-op task.

Here an archive is re-read only when its ``(st_mtime_ns, st_size, st_ino)``
changed since it was last read, or when it is missing from
``zipimport._zip_directory_cache``. The daemon stamps the archives it has
already read before it forks a worker, so a worker's first task reads no
directory either. On 3.13, where the call only drops the cache entry, the
same rule keeps the entry of an unchanged archive.

Run as ``python -m rosbag2parquet_spark._daemon``; importing it installs the
rule and nothing else.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
#: archive path -> the version whose directory the cache holds (None:
#: unknown, never matches)
_stamps: "dict[str, tuple[int, int, int] | None]" = {}


def _version(archive: str) -> "tuple[int, int, int] | None":
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    archive = self.archive
    # stat before the read: an archive rewritten during it reads again next time
    version = _version(archive)
    cached = zipimport._zip_directory_cache.get(archive)
    if version is not None and cached is not None and _stamps.get(archive) == version:
        if hasattr(self, "_files"):  # < 3.13: adopt a sibling's re-read
            self._files = cached
        return
    _reread(self)
    _stamps[archive] = version


def stamp_read_archives() -> None:
    """Record the current version of every archive already in the cache."""
    for archive in list(zipimport._zip_directory_cache):
        _stamps.setdefault(archive, _version(archive))


zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    from pyspark import daemon

    stamp_read_archives()
    daemon.manager()
