"""Bag converts read their splits inside the write tasks: task *i* of the
one write job reads split *i* of the driver's scan plan
(`container.read_split`). Pins a retried task writing what its first
attempt wrote, the ``max_mbs`` cap as an in-task running sum, the jobs a
convert runs, and a write worker that never loads pandas."""

import dataclasses
import os
import struct
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rosbag2parquet_spark import layout_write as lw
from rosbag2parquet_spark.convert import convert_bag, convert_bags
from rosbag2parquet_spark.sources import container as ct
from rosbag2parquet_spark.sources.baglike import ConnectionInfo, write_bag
from rosbag2parquet_spark.sources.rosbag import write_rosbag
from tests.test_layout_write import _jobs_since, _last_job
from tests.test_rosbag import under_declare_chunk

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T0 = 1_700_000_000_000_000_000
CONNS = [
    ConnectionInfo(1, "/a", "demo/A", "m1", "uint32 x\nstring s\n"),
    ConnectionInfo(2, "/b", "demo/B", "m2", "uint32 y\n"),
]


def _msgs(n: int) -> list:
    """Two connections; /a payloads vary in size, so byte sums are uneven."""
    out = []
    for i in range(n):
        if i % 3:
            s = b"s" * (i % 11)
            out.append((1, T0 + i * 1_000_000,
                        struct.pack("<II", i, len(s)) + s))
        else:
            out.append((2, T0 + i * 1_000_000, struct.pack("<I", i)))
    return out


def _cdr(msgs: list) -> list:
    """The same messages as little-endian CDR payloads (``.db3``)."""
    out = []
    for conn, t, raw in msgs:
        if conn == 1:
            s = raw[8:]
            raw = raw[:4] + struct.pack("<I", len(s) + 1) + s + b"\0"
        out.append((conn, t, b"\x00\x01\x00\x00" + raw))
    return out


def _sbag(path: str, n: int = 60) -> str:
    write_bag(path, CONNS, _msgs(n))
    return path


def _capture_plans(monkeypatch) -> list:
    """The WritePlan of every convert's write job, as the driver built it."""
    plans = []
    real = lw.write_task

    def spy(plan):
        plans.append(plan)
        return real(plan)

    monkeypatch.setattr(lw, "write_task", spy)
    return plans


def _run_task(monkeypatch, plan, split: int, attempt: int) -> list:
    """Task ``split``'s body run on the driver as attempt ``attempt``:
    it receives the id, as a Spark task of the write job does."""
    monkeypatch.setattr(lw, "TaskContext", type("Ctx", (), {
        "get": staticmethod(lambda: type("C", (), {
            "partitionId": staticmethod(lambda: split),
            "taskAttemptId": staticmethod(lambda: attempt),
        })),
    }))
    ids = pa.record_batch([pa.array([split], pa.int64())], names=["id"])
    return [r for b in lw.write_task(plan)(iter([ids])) for r in b.to_pylist()]


def _staged(plan, commits: list) -> dict:
    """table -> the rows a task's committed files hold, in seqno order."""
    out = {}
    for r in commits:
        if r["path"] is not None:
            t = pq.read_table(os.path.join(plan.staging, r["path"]))
            out[r["table"]] = t.sort_by("seqno").to_pylist()
    return out


def test_retried_task_writes_identical_rows(spark, tmp_path, monkeypatch):
    """Task i's body run twice, or as another attempt, reads the same
    split and writes identical rows — the rows the convert published —
    and its Messages commit row spans exactly its planned seqno range."""
    monkeypatch.setattr(ct, "SPAN_RECORDS", 7)
    bag = _sbag(str(tmp_path / "r.sbag"))
    out = str(tmp_path / "out")
    plans = _capture_plans(monkeypatch)
    assert convert_bag(spark, bag, out, num_partitions=3).count == 60
    (plan,) = plans
    scan = plan.scan
    assert len(scan.splits) == 3
    published = {
        t: pq.read_table(os.path.join(out, t)).sort_by("seqno").to_pylist()
        for t in ("Messages", "demo_A", "demo_B")
    }

    for i in range(len(scan.splits)):
        lo, hi = scan.bases[i], scan.bases[i] + scan.counts[i] - 1
        runs = []
        for n, attempt in enumerate((0, 0, 1)):
            fresh = dataclasses.replace(
                plan, staging=lw.make_staging(str(tmp_path / f"s{i}{n}"))
            )
            commits = _run_task(monkeypatch, fresh, i, attempt)
            (msg,) = [r for r in commits if r["table"] == "Messages"]
            assert (msg["seqno_min"], msg["seqno_max"], msg["rows"]) == (
                lo, hi, scan.counts[i]
            )
            runs.append(_staged(fresh, commits))
        assert runs[0] == runs[1] == runs[2]
        for table, rows in runs[0].items():
            assert rows == [
                r for r in published[table] if lo <= r["seqno"] <= hi
            ], table

    # the published files: one Messages file per split, over its range
    ranges = sorted(
        (
            pq.ParquetFile(os.path.join(out, "Messages", f)).metadata
            .row_group(0).column(0).statistics.min,
            pq.ParquetFile(os.path.join(out, "Messages", f)).metadata
            .row_group(0).column(0).statistics.max,
        )
        for f in os.listdir(os.path.join(out, "Messages"))
        if f.endswith(".parquet")
    )
    assert ranges == [
        (b, b + c - 1) for b, c in zip(scan.bases, scan.counts)
    ]


def _rows(spark, layout: str, table: str) -> list:
    return sorted(
        tuple(r) for r in spark.read.parquet(os.path.join(layout, table)).collect()
    )


@pytest.mark.parametrize("fleet", [False, True])
def test_max_mbs_cap_inside_a_split(spark, tmp_path, monkeypatch, fleet):
    """A cap that falls inside split 2 of 3 keeps exactly the rows the
    bucketed running sum over seqno keeps (the rule ``max_mbs`` had
    before it became an in-task running sum): split 1 whole, a prefix of
    split 2, nothing of split 3 — in every table."""
    from rosbag2parquet_spark.operators.relational import running_sum_scalable

    monkeypatch.setattr(ct, "SPAN_RECORDS", 7)
    bag = _sbag(str(tmp_path / "cap.sbag"))
    full = ct.plan_scan(spark, bag, 3, seqno=True, max_bytes=float("inf"))
    assert len(full.splits) == 3
    b1, b2 = full.byte_bases[1], full.byte_bases[2]
    cap = (b1 + b2) // 2 + 0.5
    assert b1 < cap < b2
    max_mbs = cap / (1 << 20)

    whole, capped = str(tmp_path / "whole"), str(tmp_path / "capped")
    run = convert_bags if fleet else convert_bag
    arg = [bag] if fleet else bag
    run(spark, arg, whole, num_partitions=3)
    plans = _capture_plans(monkeypatch)
    before = _last_job(spark)
    info = run(spark, arg, capped, num_partitions=3, max_mbs=max_mbs)
    assert _jobs_since(spark, before) == 2  # the byte-base count job + the write

    msgs = spark.read.parquet(os.path.join(whole, "Messages"))
    kept = (
        running_sum_scalable(
            msgs, "seqno", F.col("size").cast("decimal(18,4)"), 1_000_000
        )
        .filter(F.col("__running") <= max_mbs * (1 << 20))
        .select("seqno")
    )
    want = sorted(r.seqno for r in kept.collect())
    assert want == list(range(len(want)))
    assert full.counts[0] < len(want) < full.counts[0] + full.counts[1]
    assert info.count == len(want)
    (plan,) = plans
    assert plan.scan.max_bytes == cap

    for table in ("Messages", "demo_A", "demo_B"):
        got = _rows(spark, capped, table)
        assert got == [r for r in _rows(spark, whole, table) if r[0] in set(want)]
    assert _rows(spark, capped, "Connections") == _rows(spark, whole, "Connections")


def test_filtered_and_db3_converts_run_count_plus_write(spark, tmp_path):
    """A filtered convert and a ``.db3`` convert (no declared counts) run
    one count job and one write job; a declared-count convert runs the
    write job alone."""
    from rosbag2parquet_spark.sources.rosbag2 import write_db3

    rb = str(tmp_path / "f.bag")
    write_rosbag(rb, CONNS, _msgs(40), messages_per_chunk=8)
    db3 = str(tmp_path / "d.db3")
    write_db3(db3, CONNS, _cdr(_msgs(40)))
    cases = [
        (rb, {}, 1, 40),
        (rb, {"topics": ["/a"]}, 2, 26),
        (rb, {"start_ns": T0 + 10_000_000}, 2, 30),
        (db3, {}, 2, 40),
    ]
    for n, (path, kwargs, jobs, rows) in enumerate(cases):
        before = _last_job(spark)
        info = convert_bag(
            spark, path, str(tmp_path / f"o{n}"), num_partitions=2, **kwargs
        )
        assert (_jobs_since(spark, before), info.count) == (jobs, rows), kwargs


def test_filtered_convert_keeps_the_unit_count_message(spark, tmp_path):
    """The count job of a filtered convert walks every unit, so an
    under-declared chunk fails it with the per-unit count-check message."""
    path = str(tmp_path / "short.bag")
    write_rosbag(path, CONNS, _msgs(40), messages_per_chunk=10)
    pos = under_declare_chunk(path, 2)
    with pytest.raises(
        ValueError,
        match=f"chunk 2 at byte {pos} holds 10 messages but its ChunkInfo "
        "declares 9 — " + ct.COUNT_MISMATCH,
    ):
        convert_bag(spark, path, str(tmp_path / "out"), topics=["/a"],
                    num_partitions=2)


_NO_PANDAS = """
import pickle, sys
sys.path.insert(0, sys.argv[1])
from rosbag2parquet_spark import layout_write as lw
from rosbag2parquet_spark.sources import container, decode
import pyarrow as pa
with open(sys.argv[2], "rb") as f:
    plan = pickle.load(f)
print("pandas" in sys.modules)
lw.TaskContext = type("Ctx", (), {"get": staticmethod(lambda: type("C", (), {
    "partitionId": staticmethod(lambda: 0),
    "taskAttemptId": staticmethod(lambda: 0),
}))})
ids = pa.record_batch([pa.array([0], pa.int64())], names=["id"])
rows = [r for b in lw.write_task(plan)(iter([ids])) for r in b.to_pylist()]
assert [r for r in rows if r["error"]] == [], rows
assert sum(r["rows"] for r in rows if r["table"] == "Messages") > 0, rows
"""


def test_write_worker_setup_skips_pandas(spark, tmp_path, monkeypatch):
    """A fresh interpreter that imports the write task's modules and
    unpickles a write plan — a write worker's setup — does not load
    pandas; the split's write task then runs there (pyarrow itself loads
    pandas on its first array build, so the task body is not checked)."""
    from pyspark import cloudpickle

    bag = _sbag(str(tmp_path / "p.sbag"))
    plans = _capture_plans(monkeypatch)
    convert_bag(spark, bag, str(tmp_path / "out"), num_partitions=2)
    (plan,) = plans
    plan = dataclasses.replace(
        plan, staging=lw.make_staging(str(tmp_path / "fresh"))
    )
    pickled = str(tmp_path / "plan.pkl")
    with open(pickled, "wb") as f:
        f.write(cloudpickle.dumps(plan))
    got = subprocess.run(
        [sys.executable, "-c", _NO_PANDAS, REPO, pickled],
        capture_output=True, text=True, timeout=300,
    )
    assert got.returncode == 0, got.stderr
    assert got.stdout.strip() == "False"
