"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The fast tests check the input generators and the comparison helpers.
The end-to-end tests drive the full command at ``--scale smoke`` (about a
minute each, they start Spark).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pytest

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import bagmaker  # noqa: E402
import tablemaker  # noqa: E402
from analytics import canonical, mismatch  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_shape():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_bag_is_seeded(tmp_path):
    a = bagmaker.record(str(tmp_path / "a.bag"), 5, 0.5)
    b = bagmaker.record(str(tmp_path / "b.bag"), 5, 0.5)
    c = bagmaker.record(str(tmp_path / "c.bag"), 6, 0.5)
    assert a.sha256 == b.sha256
    assert a.sha256 != c.sha256
    assert a.topic_counts == {t.name: int(t.rate_hz * 0.5) for t in bagmaker.TOPICS}


def test_bag_images_do_not_compress_away(tmp_path):
    rec = bagmaker.record(str(tmp_path / "r.bag"), 1, 1.0, image_bytes=20_000)
    images = rec.topic_bytes["/camera/image/compressed"]
    assert images >= 15 * 20_000
    assert rec.nbytes > images
    assert len(set(rec.samples["sensor_msgs/CompressedImage"])) == 15


def test_bag_times_are_bag_order(tmp_path):
    rec = bagmaker.record(str(tmp_path / "r.bag"), 3, 1.0)
    assert (rec.time_ns[1:] >= rec.time_ns[:-1]).all()
    assert rec.n_messages == sum(rec.topic_counts.values())


def test_tables_are_seeded(tmp_path):
    rows = tablemaker.make_tables(str(tmp_path / "a"), 9, 0.001)
    tablemaker.make_tables(str(tmp_path / "b"), 9, 0.001)
    for t in rows:
        a = (tmp_path / "a" / f"{t}.parquet").read_bytes()
        b = (tmp_path / "b" / f"{t}.parquet").read_bytes()
        assert a == b, t


def test_canonical_separates_int_from_float():
    ints = canonical(pd.DataFrame({"x": [1, 2]}))
    floats = canonical(pd.DataFrame({"x": [1.0, 2.0]}))
    assert mismatch(ints, floats) is not None
    assert mismatch(ints, canonical(pd.DataFrame({"x": [2, 1]}))) is None
    arrow = pa.table({"x": pa.array([2, 1], pa.int64())}).to_pandas()
    assert mismatch(ints, canonical(arrow)) is None


def _run(*args: str, cwd: str = REPO) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout


def _result(out: str) -> dict:
    return json.loads(out.strip().splitlines()[-1])


def _pids() -> set[int]:
    return {int(p) for p in os.listdir("/proc") if p.isdigit()}


def _survivors(before: set[int]) -> list[str]:
    """Command lines of Python or Java processes started since ``before``
    that are still running."""
    left = []
    for pid in _pids() - before:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue  # ended meanwhile
        if "java" in cmd or "python" in cmd:
            left.append(f"{pid}: {cmd}")
    return left


@pytest.mark.slow
@pytest.mark.parametrize("workload,trace", [("convert", 0), ("analytics", 0), ("convert", 1)])
def test_smoke_run_reports_every_metric(workload, trace):
    before = _pids()
    code, out = _run("--workload", workload, "--seed", "4", "--seconds", "1",
                     "--trace", str(trace), "--scale", "smoke")
    assert _survivors(before) == []
    res = _result(out)
    assert code == 0, out
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = [m["name"] for m in _spec()["per_layer" if trace else "end_to_end"]]
    assert list(res["metrics"]) == want
    assert all(isinstance(m["value"], float) for m in res["metrics"].values())


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["convert", "analytics"])
def test_wrong_result_raises_error_rate(workload):
    code, out = _run("--workload", workload, "--seed", "4", "--seconds", "1",
                     "--scale", "smoke", "--inject-fault")
    res = _result(out)
    assert code == 1
    assert not res["correct"]
    assert res["failed"] >= 1
    assert "error_rate=0.000000" not in out


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "results", "__pycache__"))
    code, out = _run("--workload", "convert", "--seed", "1", "--seconds", "1",
                     "--trace", "0", cwd=str(tmp_path))
    assert code != 0
    assert out.strip() == ""
