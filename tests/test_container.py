"""One container scan for every bag grammar: the shape of the scan plan
(no exchange, numbered or not; contiguous file-order splits, every
message exactly once, at most ``num_partitions`` splits) and the per-unit
and per-split count checks through the converter."""

import struct

import pytest
from pyspark.sql import functions as F

from rosbag2parquet_spark.sources import container as ct
from rosbag2parquet_spark.sources.container import open_bag, read_messages
from tests.test_rosbag import _PRUNE_CONNS, _two_conn_messages, write_counted

CONTAINERS = ["rosbag", "sbag", "mcap_chunked", "mcap_flat", "db3"]


def _write(path: str, container: str, msgs: list) -> None:
    from rosbag2parquet_spark.sources.mcap import write_mcap
    from rosbag2parquet_spark.sources.rosbag2 import write_db3

    if container == "rosbag":
        write_counted(path, "lz4", msgs)
    elif container == "sbag":
        write_counted(path, "sbag", msgs)
    elif container == "mcap_flat":
        write_counted(path, "mcap", msgs)
    elif container == "mcap_chunked":
        write_mcap(path, _PRUNE_CONNS, msgs, chunk_messages=7,
                   encoding="ros1", schema_encoding="ros1msg")
    else:
        write_db3(path, _PRUNE_CONNS, msgs)


@pytest.mark.parametrize("container", CONTAINERS)
def test_scan_shape(spark, tmp_path, monkeypatch, container):
    """The scan reads planned splits with no exchange; each Spark partition
    is one contiguous file-order run of offsets, partitions follow file
    order, the splits together are the full scan with every message once,
    and ``num_partitions=n`` over at least n units gives at most n
    non-empty splits."""
    monkeypatch.setattr(ct, "SPAN_RECORDS", 7)
    path = str(tmp_path / f"shape_{container}")
    _write(path, container, _two_conn_messages(60))
    n = 4
    assert len(open_bag(path).units) >= n
    df = read_messages(spark, path, n)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    for filters in ({}, {"conn_ids": [2]}, {"start_ns": 0}):
        seq = read_messages(spark, path, n, seqno=True, **filters)
        plan = seq._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Window" not in plan, plan

    rows = df.select(
        F.spark_partition_id().alias("pid"), "offset", "time_ns", "conn_id", "data"
    ).collect()
    by_pid: dict = {}
    for r in rows:
        by_pid.setdefault(r.pid, []).append(r.offset)
    assert 1 < len(by_pid) <= n
    runs = [sorted(by_pid[p]) for p in sorted(by_pid)]
    assert [o for run in runs for o in run] == sorted(r.offset for r in rows)

    one = read_messages(spark, path, 1)
    assert one.rdd.getNumPartitions() == 1
    want = sorted(tuple(r) for r in one.collect())
    assert sorted(tuple(r)[1:] for r in rows) == want
    assert len(want) == 60 and len({r[0] for r in want}) == 60


def test_count_check_fails_convert_for_record_spans(spark, tmp_path, monkeypatch):
    """A unit that under-declares its count fails the converter's indexed
    seqno plan with the count-check ValueError — here an SBAG record span,
    whose count the planner takes from its own walk."""
    from rosbag2parquet_spark.convert import convert_bag
    from rosbag2parquet_spark.sources import baglike

    def short_first(offsets, end):
        units = ct.record_spans(offsets, end)
        return [units[0]._replace(count=units[0].count - 1)] + units[1:]

    monkeypatch.setattr(ct, "SPAN_RECORDS", 7)
    monkeypatch.setattr(baglike, "record_spans", short_first)
    path = str(tmp_path / "short.sbag")
    msgs = [(1 + i % 2, 10**18 + i, struct.pack("<I", i)) for i in range(30)]
    write_counted(path, "sbag", msgs)
    lo, hi = open_bag(path).units[0].key
    with pytest.raises(
        ValueError,
        match=f"records at bytes {lo}-{hi} holds 7 messages but its record "
        "walk declares 6",
    ):
        convert_bag(spark, path, str(tmp_path / "out"), num_partitions=2)


def test_split_count_mismatch_fails_convert(spark, tmp_path, monkeypatch):
    """A split whose rows disagree with the count job's total fails the
    numbering pass with the count-check ValueError instead of numbering
    twice or leaving a gap — here a ``.db3``, whose splits the count job
    numbers, with the first split's count inflated by one."""
    from rosbag2parquet_spark.convert import convert_bag

    path = str(tmp_path / "c.db3")
    _write(path, "db3", _two_conn_messages(30))
    real = ct.split_totals

    def off_by_one(spark, plan):
        (rows, nbytes), *rest = real(spark, plan)
        return [(rows + 1, nbytes), *rest]

    monkeypatch.setattr(ct, "split_totals", off_by_one)
    with pytest.raises(ValueError, match="the count job counted 1[0-9] — "
                       + ct.COUNT_MISMATCH):
        convert_bag(spark, path, str(tmp_path / "out"), num_partitions=2)
