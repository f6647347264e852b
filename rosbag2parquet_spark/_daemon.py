"""The Python worker daemon Spark starts for this package's sessions
(``spark.python.daemon.module``, set by :func:`session.get_spark`): PySpark's
own daemon with a zip import cache that survives across tasks, and with
what tasks import loaded and frozen before the first fork.

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

Before it forks, the daemon imports :data:`PRELOAD`: PySpark's Arrow
serializers, numpy, pyarrow, pandas and the package's task-side modules.
A stock worker imports them in its first task, so each core's first
Python task pays ~0.4-0.8 s. pandas is on the list because pyarrow's first
``pa.array`` imports it to probe for pandas inputs. A name that fails to
import is skipped, so a worker without pandas still runs plain Python
jobs. Then ``gc.collect(); gc.freeze()`` moves everything loaded so far
into the permanent generation: the ``gc.collect()`` PySpark's reuse loop
runs after every task no longer walks those ~75k objects (20-40 ms a
task), and a forked worker does not write to their pages.

Fork safety: the daemon imports and computes nothing. The threads it
holds at the fork are OpenBLAS's pool (numpy, which the stock daemon
loads too) and jemalloc's background thread (pyarrow); both libraries
re-arm them in the child through their own at-fork handlers, and Arrow's
CPU and IO pools start in the worker on first use.
``tests/test_worker_daemon.py`` checks numpy, ``pyarrow.compute`` with
threads and Parquet round trips in forked workers against the driver. A
module added to :data:`PRELOAD` must not start threads, open files or
connect anywhere at import.

Run as ``python -m rosbag2parquet_spark._daemon``; importing it installs the
zip rule and nothing else.
"""

import contextlib
import gc
import importlib
import os
import sys
import zipimport

#: what a task imports, loaded by the daemon before its first fork
PRELOAD = (
    "pyspark.sql.pandas.serializers",
    "numpy",
    "pyarrow",
    "pyarrow.parquet",
    "pyarrow.compute",
    "pandas",
    "rosbag2parquet_spark.layout_write",
    "rosbag2parquet_spark.sources.container",
    "rosbag2parquet_spark.sources.baglike",
    "rosbag2parquet_spark.sources.rosbag",
    "rosbag2parquet_spark.sources.rosbag2",
    "rosbag2parquet_spark.sources.mcap",
    "rosbag2parquet_spark.sources.jsonschema",
    "rosbag2parquet_spark.sources.protobuf",
    "rosbag2parquet_spark.sources.decode",
)

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


def preload(names=PRELOAD) -> None:
    """Import each of ``names``, skipping one that fails to import.
    Import-time output goes to stderr: the daemon's stdout carries its
    port to the JVM."""
    with contextlib.redirect_stdout(sys.stderr):
        for name in names:
            try:
                importlib.import_module(name)
            except Exception:
                pass  # a task that needs it imports it and reports the error


def main(names=PRELOAD) -> None:
    """Preload ``names``, freeze the heap, then serve PySpark's daemon."""
    from pyspark import daemon

    preload(names)
    stamp_read_archives()
    gc.collect()
    gc.freeze()
    daemon.manager()


zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    main()
