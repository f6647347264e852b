"""The one-job layout write (rosbag2parquet_spark/layout_write.py): its
commit protocol, the footer-statistics max reads, the strict-convert
atomicity it gives, and the job count of a convert."""

import hashlib
import os
import struct

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rosbag2parquet_spark import layout_write as lw
from rosbag2parquet_spark.convert import convert_bag, convert_bags
from rosbag2parquet_spark.sources.baglike import ConnectionInfo, write_bag
from rosbag2parquet_spark.sources.rosbag import write_rosbag

DEF = "uint32 a\nstring s\n"


def _good(i: int) -> bytes:
    return struct.pack("<I", i) + struct.pack("<I", 2) + b"ok"


def _sbag(path, msgs, md5=""):
    write_bag(path, [ConnectionInfo(1, "/t", "demo/P", md5, DEF)], msgs)
    return path


def _tree(root: str) -> dict:
    """relative path -> sha256 of every file under ``root``."""
    out = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(dp, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _jobs_since(spark, before: int) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sum(1 for j in sc.statusTracker().getJobIdsForGroup() if j > before)


def _last_job(spark) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(), default=-1)


def test_declared_count_convert_is_one_job(spark, tmp_path):
    """A rosbag whose chunks all declare their counts converts in ONE Spark
    job: scan, decode and every table's files in the same tasks."""
    path = str(tmp_path / "one.bag")
    conns = [
        ConnectionInfo(1, "/a", "demo/P", "m1", DEF),
        ConnectionInfo(2, "/b", "demo/Q", "m2", "float64 x\n"),
    ]
    msgs = [
        (1, 10**18 + i, _good(i)) if i % 2 else (2, 10**18 + i, struct.pack("<d", i))
        for i in range(40)
    ]
    write_rosbag(path, conns, msgs, messages_per_chunk=8)
    before = _last_job(spark)
    info = convert_bag(spark, path, str(tmp_path / "out"), num_partitions=2)
    assert info.count == 40
    assert _jobs_since(spark, before) == 1
    p = spark.read.parquet(str(tmp_path / "out" / "demo_P"))
    assert sorted(r.a for r in p.collect()) == list(range(1, 40, 2))


def test_commit_protocol_publishes_only_listed_files(tmp_path, monkeypatch):
    """Two attempts of one task write under different names; publishing
    one attempt's commit list moves exactly its files, never the other
    attempt's or a stray, and removes staging."""
    out = str(tmp_path / "lay")
    staging = lw.make_staging(out)
    plan = lw.WritePlan(
        staging=staging, job="j0", codec="snappy", max_records=1_000_000,
        on_error="fail", base_bag_index=0,
        schemas={"Messages": lw.arrow_schema(lw.MESSAGES_SCHEMA, "4.1.2")},
        groups=[],
    )
    batch = pa.record_batch(
        [
            pa.array([0, 1, 2], pa.int64()),
            pa.array([10, 20, 30], pa.int64()),
            pa.array([1, 1, 1], pa.int32()),
            pa.array([b"x", b"yy", b"zzz"], pa.binary()),
        ],
        names=["seqno", "time_ns", "conn_id", "data"],
    )

    class Ctx:
        attempt = 0

        @classmethod
        def get(cls):
            return cls

        @staticmethod
        def partitionId():
            return 3

        @classmethod
        def taskAttemptId(cls):
            return cls.attempt

    monkeypatch.setattr(lw, "TaskContext", Ctx)
    commits = {}
    for attempt in (7, 8):
        Ctx.attempt = attempt
        out_batches = list(lw.write_task(plan)(iter([batch])))
        commits[attempt] = [r for b in out_batches for r in b.to_pylist()]
    files = {
        a: [r["path"] for r in rows if r["path"] is not None]
        for a, rows in commits.items()
    }
    assert len(files[7]) == len(files[8]) == 1
    assert files[7] != files[8]
    (msg,) = [r for r in commits[7] if r["path"] is not None]
    assert (msg["rows"], msg["seqno_min"], msg["seqno_max"]) == (3, 0, 2)
    assert (msg["time_min"], msg["time_max"]) == (10, 30)
    (st,) = [r for r in commits[7] if r["table"] == lw.STATS]
    assert (st["connection_id"], st["rows"], st["bytes"]) == (1, 3, 6)

    stray = os.path.join(staging, "Messages", "part-00003-j0-a6-c000.parquet")
    open(stray, "wb").write(b"half-written by a failed attempt")
    lw.publish(out, staging, commits[7], overwrite=True)

    published = sorted(os.listdir(os.path.join(out, "Messages")))
    assert published == sorted(["_SUCCESS", os.path.basename(files[7][0])])
    assert not os.path.exists(staging)
    assert [d for d in os.listdir(out) if d.startswith("_")] == []
    t = pq.read_table(os.path.join(out, "Messages"))
    assert t.column("size").to_pylist() == [1, 2, 3]


def test_files_close_at_max_records(tmp_path, monkeypatch):
    """A task's table closes a file at ``max_records`` rows and opens the
    next; each commit row carries its file's rows and seqno/time range."""
    staging = lw.make_staging(str(tmp_path / "lay"))
    plan = lw.WritePlan(
        staging=staging, job="j1", codec="zstd", max_records=2,
        on_error="fail", base_bag_index=0,
        schemas={"Messages": lw.arrow_schema(lw.MESSAGES_SCHEMA, "4.1.2")},
        groups=[],
    )
    monkeypatch.setattr(lw, "TaskContext", type("Ctx", (), {
        "get": staticmethod(lambda: type("C", (), {
            "partitionId": staticmethod(lambda: 0),
            "taskAttemptId": staticmethod(lambda: 1),
        })),
    }))
    batches = [
        pa.record_batch(
            [pa.array(s, pa.int64()), pa.array([10 * x for x in s], pa.int64()),
             pa.array([1] * len(s), pa.int32()), pa.array([b"p"] * len(s))],
            names=["seqno", "time_ns", "conn_id", "data"],
        )
        for s in ([0, 1, 2], [3, 4])
    ]
    rows = [r for b in lw.write_task(plan)(iter(batches)) for r in b.to_pylist()]
    files = sorted(
        (r["rows"], r["seqno_min"], r["seqno_max"], r["time_min"], r["time_max"])
        for r in rows if r["path"] is not None
    )
    assert files == [(1, 4, 4, 40, 40), (2, 0, 1, 0, 10), (2, 2, 3, 20, 30)]
    for r in rows:
        if r["path"] is not None:
            t = pq.read_table(os.path.join(staging, r["path"]))
            assert t.column("seqno").to_pylist() == list(
                range(r["seqno_min"], r["seqno_max"] + 1)
            )


def test_footer_max_equals_spark_max(spark, tmp_path):
    """The append bases come from footer statistics: over a multi-file
    table holding one file written WITHOUT statistics (its column is read
    instead) and one older file without the column, the maxima equal
    Spark's."""
    out = str(tmp_path / "lay")
    a = _sbag(str(tmp_path / "a.sbag"), [(1, 10**18 + i, _good(i)) for i in range(5)])
    b = _sbag(str(tmp_path / "b.sbag"), [(1, 10**18 + 9 + i, _good(i)) for i in range(4)])
    convert_bags(spark, [a, b], out)
    msgs = os.path.join(out, "Messages")
    extra = pa.table({
        "seqno": pa.array([100, 250, 7], pa.int64()),
        "bag_index": pa.array([None, 41, 3], pa.int32()),
    })
    pq.write_table(extra, os.path.join(msgs, "part-99999-nostats.parquet"),
                   write_statistics=False)
    pq.write_table(pa.table({"seqno": pa.array([5], pa.int64())}),
                   os.path.join(msgs, "part-99998-old.parquet"))
    md = pq.ParquetFile(os.path.join(msgs, "part-99999-nostats.parquet")).metadata
    assert md.row_group(0).column(0).statistics is None

    df = spark.read.option("mergeSchema", "true").parquet(msgs)
    for col in ("seqno", "bag_index"):
        want = df.agg(F.max(col)).collect()[0][0]
        assert lw.footer_max(msgs, col) == want
    assert lw.footer_max(msgs, "seqno") == 250
    assert lw.footer_max(str(tmp_path / "missing"), "seqno") is None


def test_append_maps_duplicate_identity_to_lowest_id(spark, tmp_path):
    """A dim that already holds one identity twice (NULL callerid/latching
    from convert_bag, "" from an older fleet append) no longer refuses
    the next append: the identity maps to its lowest id and both dim rows
    stay."""
    a = str(tmp_path / "a.bag")
    b = str(tmp_path / "b.bag")
    conns = [ConnectionInfo(1, "/t", "demo/P", "m1", DEF)]
    write_rosbag(a, conns, [(1, 10**18 + i, _good(i)) for i in range(3)])
    write_rosbag(b, conns, [(1, 2 * 10**18 + i, _good(i)) for i in range(2)])
    out = str(tmp_path / "lay")
    convert_bag(spark, a, out)
    conn_dir = os.path.join(out, "Connections")
    row = pq.read_table(conn_dir).to_pylist()[0]
    assert row["callerid"] is None and row["latching"] is None
    dup = {**row, "connection_id": 2, "callerid": "", "latching": ""}
    schema = pq.read_schema(
        os.path.join(conn_dir, [f for f in os.listdir(conn_dir) if f.endswith(".parquet")][0])
    )
    for f in os.listdir(conn_dir):
        os.remove(os.path.join(conn_dir, f))
    pq.write_table(pa.Table.from_pylist([row, dup], schema),
                   os.path.join(conn_dir, "part-00000-dup.parquet"))

    info = convert_bags(spark, [b], out, mode="append")
    assert info.count == 2
    msgs = spark.read.parquet(os.path.join(out, "Messages"))
    new = msgs.filter("seqno >= 3").select("connection_id").distinct().collect()
    assert [r.connection_id for r in new] == [1]
    ids = sorted(r.connection_id for r in spark.read.parquet(conn_dir).collect())
    assert ids == [1, 2]


@pytest.mark.parametrize("mode", ["append", "overwrite"])
def test_failed_strict_convert_leaves_layout_untouched(spark, tmp_path, mode):
    """A strict convert of a poisoned bag raises before anything lands:
    the existing layout stays byte-identical and no staging dir is left,
    whether the convert appends (convert_bags) or overwrites
    (convert_bag)."""
    out = str(tmp_path / "lay")
    good = _sbag(str(tmp_path / "g.sbag"), [(1, 10**18 + i, _good(i)) for i in range(6)])
    convert_bag(spark, good, out)
    before = _tree(out)
    msgs = [(1, 2 * 10**18 + i, _good(i)) for i in range(6)]
    msgs.insert(3, (1, 2 * 10**18 + 3, struct.pack("<II", 9, 12345)))
    bad = _sbag(str(tmp_path / "p.sbag"), msgs)
    with pytest.raises(Exception):
        if mode == "append":
            convert_bags(spark, [bad], out, mode="append")
        else:
            convert_bag(spark, bad, out)
    assert _tree(out) == before
    assert not [d for d in os.listdir(out) if d.startswith("_staging-")]


ROS1_HDR = (
    "Header header\nfloat64 x\n" + "=" * 80
    + "\nMSG: std_msgs/Header\nuint32 seq\ntime stamp\nstring frame_id\n"
)
CDR_HDR = (
    "std_msgs/Header header\nfloat64 x\n" + "=" * 80
    + "\nMSG: std_msgs/Header\nbuiltin_interfaces/Time stamp\n"
    "string frame_id\n" + "=" * 80
    + "\nMSG: builtin_interfaces/Time\nint32 sec\nuint32 nanosec\n"
)


@pytest.mark.parametrize("serialization", ["ros1", "cdr"])
def test_header_stamps_match_the_catalyst_rule(spark, serialization):
    """The in-task header-stamp reader equals the Catalyst CASE rule
    (`convert._header_stamp_exprs`) payload for payload: short payloads,
    big-endian CDR, connections without a Header, and stamps past 2^31
    (signed reinterpretation)."""
    import random
    from collections import namedtuple

    from rosbag2parquet_spark.convert import (
        _header_stamp_exprs,
        _header_stamp_plan,
    )

    Conn = namedtuple("Conn", "connection_id datatype msg_def")
    hdr = ROS1_HDR if serialization == "ros1" else CDR_HDR
    conns = [Conn(1, "pkg/A", hdr), Conn(2, "pkg/B", "float64 x\n"),
             Conn(4, "pkg/C", hdr)]
    rng = random.Random(7)
    rows = []
    for i in range(300):
        n = rng.choice([0, 2, 5, 11, 12, 13, 24])
        buf = bytearray(rng.randrange(256) for _ in range(n))
        if serialization == "cdr" and n > 1 and rng.random() < 0.7:
            buf[1] = rng.choice([0x00, 0x01, 0x03])
        rows.append((rng.choice([1, 2, 3, 4]), bytes(buf)))
    df = spark.createDataFrame(
        [(c, bytearray(b)) for c, b in rows], "conn_id int, data binary"
    )
    sec_sql, nsec_sql = _header_stamp_exprs(conns, serialization)
    want = [
        (r.s, r.n)
        for r in df.select(F.expr(sec_sql).alias("s"), F.expr(nsec_sql).alias("n"))
        .collect()
    ]
    stamps, le_ids = _header_stamp_plan(conns, serialization)
    plan = lw.WritePlan(
        staging="", job="", codec="snappy", max_records=1, on_error="fail",
        base_bag_index=0, schemas={}, groups=[], stamps=stamps, le_ids=le_ids,
    )
    conn = pa.array([c for c, _ in rows], pa.int32()).to_numpy()
    sec, nsec = lw.header_stamps(plan, conn, pa.array([b for _, b in rows], pa.binary()))
    got = list(zip(sec.to_pylist(), nsec.to_pylist()))
    assert got == want
    assert any(s is not None for s, _ in got) and any(s is None for s, _ in got)


def _stage(out, table, name, xs):
    """A write's staging dir under ``out`` holding one file of ``table``."""
    staging = lw.make_staging(out)
    os.makedirs(os.path.join(staging, table))
    pq.write_table(pa.table({"x": xs}), os.path.join(staging, table, name))
    return staging


@pytest.mark.parametrize("step", ["aside", "in"])
def test_overwrite_crash_points_repair_to_one_whole_table(
    tmp_path, monkeypatch, step
):
    """An overwrite publish killed right after the rename-aside, or right
    after the rename-in, repairs to exactly one whole table: all-old
    before the rename-in, all-new after it — never missing, never mixed,
    no leftover dir."""
    from tests.conftest import Crash, crash_after_rename

    out = str(tmp_path / "lay")
    table = os.path.join(out, "T")
    publish_old = _stage(out, "T", "part-old.parquet", [1, 2, 3])
    lw.publish(out, publish_old, [{"table": "T", "path": "T/part-old.parquet"}],
               overwrite=True)
    staging = _stage(out, "T", "part-new.parquet", [7, 8])
    crash_after_rename(
        monkeypatch,
        (lambda src, dst: src == table) if step == "aside"
        else (lambda src, dst: dst == table),
    )
    with pytest.raises(Crash):
        lw.publish(out, staging, [{"table": "T", "path": "T/part-new.parquet"}],
                   overwrite=True)
    assert os.path.isdir(lw.aside_dir(table))
    assert lw.repair(out) == ["repair:" + table]
    want = [1, 2, 3] if step == "aside" else [7, 8]
    assert sorted(pq.read_table(table).column("x").to_pylist()) == want
    assert os.listdir(out) == ["T"]
    assert lw.repair(out) == []


def test_append_after_an_interrupted_swap_reads_the_repaired_layout(
    spark, tmp_path
):
    """An append into a layout whose Messages swap died after the
    rename-aside settles the swap before it reads its seqno base: the
    appended rows continue after the old ones instead of restarting at 0."""
    out = str(tmp_path / "lay")
    a = _sbag(str(tmp_path / "a.sbag"), [(1, 10**18 + i, _good(i)) for i in range(5)])
    b = _sbag(str(tmp_path / "b.sbag"), [(1, 2 * 10**18 + i, _good(i)) for i in range(4)])
    convert_bag(spark, a, out)
    msgs = os.path.join(out, "Messages")
    os.rename(msgs, lw.aside_dir(msgs))
    convert_bags(spark, [b], out, mode="append")
    seqnos = sorted(r.seqno for r in spark.read.parquet(msgs).collect())
    assert seqnos == list(range(9))


def test_killed_convert_staging_is_invisible_and_vacuumed(
    spark, tmp_path, monkeypatch
):
    """A convert killed between its write job and its publish leaves its
    staged files under ``_staging-<uuid>/``: every table still reads its
    old rows through `read_parquet`, the layout's files are unchanged,
    and `vacuum_layout` removes exactly that dir."""
    from rosbag2parquet_spark.sinks import vacuum_layout
    from rosbag2parquet_spark.sources.catalog import read_parquet
    from tests.conftest import Crash

    out = str(tmp_path / "lay")
    a = _sbag(str(tmp_path / "a.sbag"), [(1, 10**18 + i, _good(i)) for i in range(5)])
    b = _sbag(str(tmp_path / "b.sbag"), [(1, 2 * 10**18 + i, _good(i)) for i in range(4)])
    convert_bag(spark, a, out)
    before = _tree(out)
    tables = ("Messages", "demo_P", "Connections", "Stats", "Bags")
    counts = [read_parquet(spark, os.path.join(out, t)).count() for t in tables]
    left = []

    def killed(out_dir, staging, commits, *, overwrite):
        # what a kill leaves: the staged files, out of the convert's own
        # cleanup's reach
        left.append(staging + "-killed")
        os.rename(staging, left[0])
        raise Crash("killed before the publish")

    monkeypatch.setattr(lw, "publish", killed)
    with pytest.raises(Crash):
        convert_bags(spark, [b], out, mode="append")
    monkeypatch.undo()
    assert os.listdir(os.path.join(left[0], "Messages"))
    assert [
        read_parquet(spark, os.path.join(out, t)).count() for t in tables
    ] == counts
    assert {k: v for k, v in _tree(out).items()
            if not k.startswith("_staging-")} == before
    assert vacuum_layout(out, dry_run=True) == [left[0]]
    assert vacuum_layout(out) == [left[0]]
    assert _tree(out) == before


def test_overwrite_convert_removes_stale_tables(spark, tmp_path):
    """An overwrite convert leaves exactly the tables it writes: converting
    a bag of types X and Y, then one of X only, into the same layout
    removes Y's table, so every table dir is in ``load_tables.sql`` and
    every per-type row resolves in ``Connections``. Underscore dirs such
    as ``_snapshots`` stay."""
    import re

    from rosbag2parquet_spark.snapshots import SNAPSHOT_DIR, snapshot_create

    out = str(tmp_path / "lay")
    a = str(tmp_path / "a.sbag")
    write_bag(a, [ConnectionInfo(1, "/x", "demo/X", "", DEF),
                  ConnectionInfo(2, "/y", "demo/Y", "", DEF)],
              [(1, 10**18, _good(0)), (2, 10**18 + 1, _good(1))])
    b = str(tmp_path / "b.sbag")
    write_bag(b, [ConnectionInfo(1, "/x", "demo/X", "", DEF)],
              [(1, 2 * 10**18, _good(2))])
    convert_bag(spark, a, out)
    assert os.path.isdir(os.path.join(out, "demo_Y"))
    snapshot_create(out)
    convert_bag(spark, b, out)

    dirs = {d for d in os.listdir(out)
            if os.path.isdir(os.path.join(out, d)) and not d.startswith(("_", "."))}
    assert "demo_Y" not in dirs
    with open(os.path.join(out, "load_tables.sql")) as f:
        ddl = set(re.findall(r"CREATE TABLE IF NOT EXISTS (\S+)", f.read()))
    assert ddl == dirs
    ids = {r.connection_id for r in spark.read.parquet(os.path.join(out, "Connections")).collect()}
    for d in dirs - {"Connections", "Bags", "Stats"}:
        rows = spark.read.parquet(os.path.join(out, d)).select("connection_id").collect()
        assert {r.connection_id for r in rows} <= ids
    assert os.path.isdir(os.path.join(out, SNAPSHOT_DIR))
