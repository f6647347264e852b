"""The package's Python worker daemon (``rosbag2parquet_spark._daemon``):
a zip archive's directory is re-read only when the archive changed, so a
reused worker's tasks parse no zip directory."""

import os
import subprocess
import sys

import pandas as pd
from pyspark.sql import functions as F

import rosbag2parquet_spark

DAEMON = os.path.join(os.path.dirname(rosbag2parquet_spark.__file__), "_daemon.py")

_RULE = r"""
import importlib, sys, zipfile, zipimport
from rosbag2parquet_spark import _daemon

archive = sys.argv[1]

def build(mods):
    with zipfile.ZipFile(archive, "w") as z:
        for m in mods:
            z.writestr(m + ".py", f"NAME = {m!r}\n")

reads = []
real = zipimport._read_directory
def counting(path):
    reads.append(path)
    return real(path)
zipimport._read_directory = counting

build(["m", "pkg/__init__", "pkg/a"])
sys.path.insert(0, archive)
import m, pkg.a  # two importers of one archive: its root and pkg/
assert m.NAME == "m"
assert sum(k.startswith(archive) for k in sys.path_importer_cache) == 2
_daemon.stamp_read_archives()  # what the daemon does before it forks
del reads[:]
for _ in range(3):
    importlib.invalidate_caches()
assert reads.count(archive) == 0, reads

build(["m", "pkg/__init__", "pkg/a", "n", "pkg/q"])
importlib.invalidate_caches()
import n, pkg.q  # pkg/'s importer sees the entries its sibling re-read
assert (n.NAME, pkg.q.NAME) == ("n", "pkg/q")
assert reads.count(archive) == 1, reads
print("ok")
"""


def test_unchanged_archive_is_not_reread(tmp_path):
    """In a fresh interpreter under the package's rule: three
    ``invalidate_caches()`` over an unchanged zip read no directory; after
    the zip is rewritten with new modules, the next call reads it once and
    both import, the one in ``pkg/`` through the importer that did not
    read it."""
    out = subprocess.run(
        [sys.executable, "-c", _RULE, str(tmp_path / "mods.zip")],
        check=True, capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(DAEMON)),
    )
    assert out.stdout.strip() == "ok"


# the task functions are nested so they pickle by value: a worker cannot
# import this test module by name


def test_tasks_run_under_the_package_daemon(spark):
    def _daemon_file(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__code__.co_filename

    sc = spark.sparkContext
    files = sc.parallelize(range(4), 4).mapPartitions(_daemon_file).collect()
    assert files and all(os.path.samefile(f, DAEMON) for f in files), files


def test_reused_worker_reads_no_zip_directory(spark):
    """Five small jobs; a worker pid seen in two tasks read no zip
    directory between them (the stock daemon reads ~16 per task)."""

    def _pid_reads(_):
        """(worker pid, zip directories read in this worker since its
        first probe); the count survives between a reused worker's
        tasks."""
        import os
        import zipimport

        if not hasattr(zipimport._read_directory, "calls"):
            real = zipimport._read_directory

            def counting(path):
                counting.calls += 1
                return real(path)

            counting.calls = 0
            zipimport._read_directory = counting
        yield os.getpid(), zipimport._read_directory.calls

    sc = spark.sparkContext
    seen: dict = {}
    for _ in range(5):
        for pid, calls in sc.parallelize(range(4), 4).mapPartitions(_pid_reads).collect():
            seen.setdefault(pid, []).append(calls)
    reused = {pid: calls for pid, calls in seen.items() if len(calls) > 1}
    assert reused, seen
    for pid, calls in reused.items():
        assert calls == [calls[0]] * len(calls), (pid, calls)


def test_plain_lambda_and_pandas_udf_still_run(spark):
    sc = spark.sparkContext
    assert sc.parallelize(range(10), 3).map(lambda x: x * x).sum() == 285

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    rows = spark.range(5).select(plus_one("id").alias("v")).collect()
    assert sorted(r.v for r in rows) == [1, 2, 3, 4, 5]


def test_daemon_conf_needs_the_package_on_the_worker_path(tmp_path, monkeypatch):
    """`get_spark` sets the daemon module only where a worker, started in
    the driver's cwd with its ``PYTHONPATH``, imports the package: from
    anywhere else a stock daemon keeps plain Python jobs running."""
    from rosbag2parquet_spark import session

    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(session._ROOT)
    assert session._workers_find_package()
    monkeypatch.chdir(tmp_path)
    assert not session._workers_find_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), session._ROOT]))
    assert session._workers_find_package()
