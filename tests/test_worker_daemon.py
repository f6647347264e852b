"""The package's Python worker daemon (``rosbag2parquet_spark._daemon``):
a zip archive's directory is re-read only when the archive changed, so a
reused worker's tasks parse no zip directory; what tasks import is loaded
and frozen before the fork and still works in the forked workers; and the
warm-up job a new `get_spark` session starts."""

import os
import subprocess
import sys

import pandas as pd
from pyspark.sql import functions as F

import rosbag2parquet_spark

DAEMON = os.path.join(os.path.dirname(rosbag2parquet_spark.__file__), "_daemon.py")
_REPO = os.path.dirname(os.path.dirname(DAEMON))

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


def test_forked_workers_start_preloaded_and_frozen(spark):
    """Each of 4 workers holds every preload module, and holds it in the
    heap the daemon froze before forking it: a module a worker imported
    itself would sit in a collected generation."""

    def _preload_state(_):
        import gc
        import os
        import sys

        from rosbag2parquet_spark._daemon import PRELOAD

        collected = {id(o) for o in gc.get_objects()}
        yield (
            os.getpid(),
            [m for m in PRELOAD if m not in sys.modules],
            [m for m in PRELOAD if m in sys.modules and id(sys.modules[m]) in collected],
            gc.get_freeze_count(),
        )

    rows = spark.sparkContext.parallelize(range(4), 4).mapPartitions(_preload_state).collect()
    assert len(rows) == 4
    for pid, missing, unfrozen, frozen in rows:
        assert (missing, unfrozen) == ([], []), pid
        assert frozen > 0, pid


def test_forked_workers_compute_like_the_driver(spark, tmp_path):
    """Threaded Arrow compute, a multi-row-group Parquet round trip and a
    BLAS matmul give the driver's answers in 4 forked workers: the
    libraries the daemon loaded before the fork still work after it."""
    out = str(tmp_path)

    def _compute(i):
        import hashlib

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        n = 200_000
        t = pa.table({"k": np.arange(n) % 7, "v": np.arange(n, dtype=np.int64) * 3})
        agg = t.group_by("k", use_threads=True).aggregate([("v", "sum"), ("v", "max")])
        agg = agg.sort_by("k").to_pydict()
        order = pc.sort_indices(t, sort_keys=[("k", "ascending"), ("v", "descending")])
        path = f"{out}/{i}.parquet"
        pq.write_table(t, path, row_group_size=n // 8)
        back = pq.read_table(path, use_threads=True)
        groups = pq.ParquetFile(path).metadata.num_row_groups
        rng = np.random.default_rng(0)
        a = rng.integers(-8, 9, size=(512, 512)).astype(np.float64)  # exact sums
        mm = hashlib.sha256((a @ a.T).tobytes()).hexdigest()
        return (
            agg, pc.sum(t["v"]).as_py(), order[:5].to_pylist(), order[-5:].to_pylist(),
            back.equals(t), groups, mm,
        )

    want = _compute("driver")
    assert want[4] and want[5] == 8
    got = (
        spark.sparkContext.parallelize(range(4), 4)
        .mapPartitionsWithIndex(lambda i, _: [_compute(i)])
        .collect()
    )
    assert got == [want] * 4


_BAD_PRELOAD_DAEMON = """
from rosbag2parquet_spark import _daemon

if __name__ == "__main__":
    _daemon.main(("no_such_module_anywhere",) + _daemon.PRELOAD)
"""

_PLAIN_JOB = r"""
import sys
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.python.daemon.module", "bad_preload_daemon")
    .getOrCreate()
)
sc = spark.sparkContext
assert sc.parallelize(range(10), 2).map(lambda x: x * x).sum() == 285

def probe(_):
    import gc, sys
    yield sys.modules["__main__"].__file__, "pandas" in sys.modules, gc.get_freeze_count()

print(sc.parallelize(range(2), 2).mapPartitions(probe).collect()[0])
spark.stop()
"""


def test_unimportable_preload_is_skipped(tmp_path):
    """A daemon whose preload tuple starts with a name nothing provides
    still serves a plain lambda job, and loads the rest of the tuple."""
    (tmp_path / "bad_preload_daemon.py").write_text(_BAD_PRELOAD_DAEMON)
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([str(tmp_path), _REPO]))
    out = subprocess.run(
        [sys.executable, "-c", _PLAIN_JOB], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    main_file, has_pandas, frozen = eval(out.stdout.strip().splitlines()[-1])
    assert os.path.basename(main_file) == "bad_preload_daemon.py"
    assert has_pandas and frozen > 0


_WARMUP = r"""
import json, threading, time
from rosbag2parquet_spark import session

def warmups():
    return [t for t in threading.enumerate() if t.name == session.WARMUP_GROUP]

spark = session.get_spark("warmup-test", cpus=2)
started = len(warmups())
for t in warmups():
    t.join(300)
finished = not any(t.is_alive() for t in warmups())
reused = session.get_spark("warmup-test", cpus=2) is spark
started_on_reuse = len(warmups())
sc = spark.sparkContext
sc._jsc.sc().listenerBus().waitUntilEmpty()
st = sc.statusTracker()
ids = list(st.getJobIdsForGroup(session.WARMUP_GROUP))
jobs = [st.getJobInfo(j) for j in ids]
print(json.dumps({
    "started": started,
    "finished": finished,
    "reused": reused,
    "started_on_reuse": started_on_reuse,
    "jobs": len(ids),
    "status": [str(j.status) for j in jobs],
    "tasks": [sum(st.getStageInfo(s).numTasks for s in j.stageIds) for j in jobs],
    "ungrouped": [j for j in st.getJobIdsForGroup() if j in ids],
}))
spark.stop()

# a fresh session stopped while its warm-up task runs: the task waits
# for the daemon's first start, which takes over a second
spark = session.get_spark("warmup-stop", cpus=2)
st = spark.sparkContext.statusTracker()
deadline = time.monotonic() + 60
while time.monotonic() < deadline and not st.getJobIdsForGroup(session.WARMUP_GROUP):
    time.sleep(0.01)
time.sleep(0.2)
session.stop_spark(spark)
print("stopped")
"""


def _processes_with(token: str) -> list:
    """Pids of the live processes whose environment holds ``token``."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as fh:
                if token.encode() in fh.read():
                    pids.append(int(pid))
        except OSError:
            pass
    return pids


def test_new_session_runs_one_warmup_job():
    """`get_spark` on a new session starts one 1-task warm-up job in its
    own group, which no ungrouped job counter lists; reusing the session
    starts none. `stop_spark` on a session whose warm-up task is running
    raises nothing in the caller and logs no ``ERROR`` line (a plain
    ``spark.stop()`` there logs the task's failure), and no process the
    session started outlives it."""
    import json
    import time
    import uuid

    token = f"WARMUP_TEST_{uuid.uuid4().hex}"
    env = dict(os.environ, PYTHONPATH=_REPO, WARMUP_TEST_TOKEN=token)
    out = subprocess.run(
        [sys.executable, "-c", _WARMUP], env=env, cwd=_REPO,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "Exception in thread" not in out.stderr, out.stderr[-3000:]
    errors = [line for line in out.stderr.splitlines() if " ERROR " in line]
    assert not errors, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    assert lines[-1] == "stopped"
    got = json.loads(lines[-2])
    assert got == {
        "started": 1, "finished": True, "reused": True, "started_on_reuse": 0, "jobs": 1,
        "status": ["SUCCEEDED"], "tasks": [1], "ungrouped": [],
    }, got
    deadline = time.monotonic() + 30
    while _processes_with(token) and time.monotonic() < deadline:
        time.sleep(0.2)
    left = _processes_with(token)
    for pid in left:
        os.kill(pid, 9)
    assert not left
