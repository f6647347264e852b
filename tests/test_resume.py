"""Incremental resume of a GROWN bag (the live-recording ingest shape):
convert_bag writes an `_ingest_state.json` cursor; resume_convert_bag
converts only offsets past it, appending with continuous seqno — and
resuming after growth must equal converting the grown bag in one shot.
Supported exactly where offsets are append-stable (.db3 rowids, SBAG byte
offsets); re-recorded bags and shifted headers are refused before any
write. The reference converts whole files only (rosbag2parquet.cpp) —
this is the operational upgrade a recorder fleet needs."""

import json
import os
import sqlite3
import struct

import pytest
from pyspark.sql import functions as F

from rosbag2parquet_spark.convert import (
    INGEST_STATE,
    convert_bag,
    convert_bags,
    resume_convert_bag,
)
from rosbag2parquet_spark.sources.baglike import ConnectionInfo, write_bag
from rosbag2parquet_spark.sources.rosbag2 import write_db3
from tests.test_rosbag2 import IMU_DEF, encode_imu

T0 = 1_700_000_000_000_000_000

GPS_DEF = "uint32 fix\nfloat64 lat\n"


def _gps(i: int) -> bytes:
    # CDR LE: encapsulation header + uint32 + pad + float64
    return (
        b"\x00\x01\x00\x00"
        + struct.pack("<I", i)
        + b"\x00" * 4
        + struct.pack("<d", 42.5 + i)
    )


def _imu_msgs(lo, hi, conn_id=1):
    return [
        (conn_id, T0 + i * 1_000_000, encode_imu(i, (0.1, 0.2, 9.8), "x"))
        for i in range(lo, hi)
    ]


def _grow_db3(path, messages, new_topics=(), new_defs=()):
    """TRUE growth — INSERT into the same sqlite file, exactly what the
    ROS 2 recorder does between checkpoints."""
    con = sqlite3.connect(path)
    try:
        for tid, name, dtype in new_topics:
            con.execute(
                "INSERT INTO topics(id, name, type, serialization_format,"
                " offered_qos_profiles, type_description_hash)"
                " VALUES (?,?,?,?,'','')",
                (tid, name, dtype, "cdr"),
            )
        for dtype, text in new_defs:
            con.execute(
                "INSERT INTO message_definitions(topic_type, encoding,"
                " encoded_message_definition, type_description_hash)"
                " VALUES (?,?,?,'')",
                (dtype, "ros2msg", text),
            )
        con.executemany(
            "INSERT INTO messages(topic_id, timestamp, data) VALUES (?,?,?)",
            messages,
        )
        con.commit()
    finally:
        con.close()


def _grow_sbag(path, messages):
    """Pure append — old record byte offsets untouched."""
    with open(path, "ab") as f:
        for conn_id, time_ns, payload in messages:
            f.write(struct.pack("<I", 12 + len(payload)))
            f.write(struct.pack("<IQ", conn_id, time_ns))
            f.write(payload)


def _typed_rows(spark, layout, table="sensor_msgs_ImuLite"):
    return [
        tuple(r)
        for r in spark.read.parquet(os.path.join(layout, table))
        .orderBy("seqno")
        .collect()
    ]


def test_resume_db3_equals_oneshot(spark, tmp_path):
    """Grow a .db3 (new rows AND a new topic mid-recording), resume, and
    the layout must equal converting the grown bag in one shot — typed
    tables, Messages, Connections, and the advanced cursor all pinned;
    a second resume with no growth is a 0-row no-op."""
    bag = str(tmp_path / "live.db3")
    conns = [ConnectionInfo(1, "/imu", "sensor_msgs/ImuLite", "", IMU_DEF)]
    write_db3(bag, conns, _imu_msgs(0, 20))
    lay = str(tmp_path / "lay")
    info = convert_bag(spark, bag, lay)
    assert info.count == 20
    state = json.load(open(os.path.join(lay, INGEST_STATE)))
    assert state["format"] == "rosbag2" and state["count"] == 20

    delta = _imu_msgs(20, 35) + [
        (2, T0 + (20 + i) * 1_000_000 + 500, _gps(i)) for i in range(5)
    ]
    _grow_db3(
        bag,
        sorted(delta, key=lambda m: m[1]),
        new_topics=[(2, "/gps", "demo/GpsLite")],
        new_defs=[("demo/GpsLite", GPS_DEF)],
    )
    rinfo = resume_convert_bag(spark, bag, lay)
    assert rinfo.count == 20

    # one-shot conversion of the grown bag is the oracle
    lay2 = str(tmp_path / "oneshot")
    convert_bag(spark, bag, lay2)
    assert _typed_rows(spark, lay) == _typed_rows(spark, lay2)
    assert _typed_rows(spark, lay, "demo_GpsLite") == _typed_rows(
        spark, lay2, "demo_GpsLite"
    )
    for t in ("Messages", "Connections"):
        a = sorted(map(tuple, spark.read.parquet(f"{lay}/{t}").collect()))
        b = sorted(map(tuple, spark.read.parquet(f"{lay2}/{t}").collect()))
        assert a == b, t

    state2 = json.load(open(os.path.join(lay, INGEST_STATE)))
    assert state2["count"] == 40
    assert state2["next_offset"] == state["next_offset"] + 20

    # idempotent: nothing new -> no-op, state unchanged
    assert resume_convert_bag(spark, bag, lay).count == 0
    assert json.load(open(os.path.join(lay, INGEST_STATE))) == state2


def test_resume_sbag_pure_append(spark, tmp_path):
    bag = str(tmp_path / "live.sbag")
    conns = [ConnectionInfo(1, "/imu", "sensor_msgs/ImuLite", "", IMU_DEF)]
    # SBAG carries ros1 payloads; reuse the CDR-free imu encoder? ros1
    # decode of IMU_DEF expects plain little-endian — encode_imu emits a
    # CDR header, so use a minimal ros1 def instead
    simple_def = "uint32 a\nfloat64 b"
    conns = [ConnectionInfo(1, "/t", "demo/Simple", "", simple_def)]

    def pay(i):
        return struct.pack("<Id", i, i * 1.5)

    msgs1 = [(1, T0 + i * 1000, pay(i)) for i in range(12)]
    write_bag(bag, conns, msgs1)
    lay = str(tmp_path / "lay")
    assert convert_bag(spark, bag, lay).count == 12

    _grow_sbag(bag, [(1, T0 + i * 1000, pay(i)) for i in range(12, 30)])
    assert resume_convert_bag(spark, bag, lay).count == 18

    lay2 = str(tmp_path / "oneshot")
    convert_bag(spark, bag, lay2)
    assert _typed_rows(spark, lay, "demo_Simple") == _typed_rows(
        spark, lay2, "demo_Simple"
    )


def test_resume_source_pushdown_reads_only_delta(spark, tmp_path):
    """The cursor prunes at PLAN time: the .db3 scan with start
    returns exactly the delta rowids (the WHERE rides the pk b-tree), and
    the SBAG planner drops pre-cursor offsets before any executor reads."""
    from rosbag2parquet_spark.sources.container import read_messages

    db3 = str(tmp_path / "p.db3")
    write_db3(
        db3,
        [ConnectionInfo(1, "/imu", "sensor_msgs/ImuLite", "", IMU_DEF)],
        _imu_msgs(0, 30),
    )
    got = read_messages(spark, db3, start=21).select("offset").collect()
    assert sorted(r.offset for r in got) == list(range(21, 31))

    sb = str(tmp_path / "p.sbag")
    msgs = [(1, T0 + i, struct.pack("<Id", i, 0.0)) for i in range(10)]
    write_bag(sb, [ConnectionInfo(1, "/t", "d/S", "", "uint32 a\nfloat64 b")], msgs)
    all_offs = sorted(
        r.offset for r in read_messages(spark, sb).select("offset").collect()
    )
    cut = all_offs[6]
    got = sorted(
        r.offset
        for r in read_messages(spark, sb, start=cut).select("offset").collect()
    )
    assert got == all_offs[6:]


def test_resume_refusals(spark, tmp_path):
    """A re-recorded bag (same path, different recording), a changed SBAG
    header, a chunked grammar, and a filtered layout are all refused
    before any write."""
    # re-recorded .db3: same path, fresh recording with different stamps
    bag = str(tmp_path / "r.db3")
    conns = [ConnectionInfo(1, "/imu", "sensor_msgs/ImuLite", "", IMU_DEF)]
    write_db3(bag, conns, _imu_msgs(0, 10))
    lay = str(tmp_path / "lay")
    convert_bag(spark, bag, lay)
    os.remove(bag)
    write_db3(
        bag,
        conns,
        [(1, T0 + 999 + i * 777, encode_imu(i, (0, 0, 0), "y"))
         for i in range(25)],
    )
    with pytest.raises(ValueError, match="re-recorded"):
        resume_convert_bag(spark, bag, lay)

    # SBAG header change (a new connection declared) shifts every offset
    sdef = "uint32 a\nfloat64 b"
    sb = str(tmp_path / "h.sbag")
    sconns = [ConnectionInfo(1, "/t", "d/S", "", sdef)]
    msgs = [(1, T0 + i, struct.pack("<Id", i, 0.0)) for i in range(8)]
    write_bag(sb, sconns, msgs)
    slay = str(tmp_path / "slay")
    convert_bag(spark, sb, slay)
    write_bag(
        sb,
        sconns + [ConnectionInfo(2, "/u", "d/S", "", sdef)],
        msgs + [(2, T0 + 100, struct.pack("<Id", 9, 0.0))],
    )
    with pytest.raises(ValueError, match="header changed"):
        resume_convert_bag(spark, sb, slay)

    # rosbag 2.0: refused with fleet-append guidance (append needs reindex)
    from rosbag2parquet_spark.sources.rosbag import write_rosbag

    rb = str(tmp_path / "c.bag")
    write_rosbag(
        rb,
        [ConnectionInfo(1, "/t", "demo/Simple", "", "uint32 a\nfloat64 b")],
        [(1, T0 + i, struct.pack("<Id", i, 0.0)) for i in range(6)],
    )
    rlay = str(tmp_path / "rlay")
    convert_bag(spark, rb, rlay)
    with pytest.raises(ValueError, match="not supported for rosbag"):
        resume_convert_bag(spark, rb, rlay)

    # MCAP re-record: the converted chunk-prefix identity changed
    from rosbag2parquet_spark.sources.mcap import write_mcap

    mc = str(tmp_path / "c.mcap")
    mconns = [ConnectionInfo(1, "/imu", "sensor_msgs/ImuLite", "", IMU_DEF)]
    write_mcap(mc, mconns, _imu_msgs(0, 9), chunk_messages=3)
    mlay = str(tmp_path / "mlay")
    convert_bag(spark, mc, mlay)
    write_mcap(
        mc, mconns,
        [(1, T0 + 5_555 + i * 777, encode_imu(i, (1, 1, 1), "zz"))
         for i in range(12)],
        chunk_messages=3,
    )
    with pytest.raises(ValueError, match="re-recorded|identity changed"):
        resume_convert_bag(spark, mc, mlay)

    # filtered conversion carries NO cursor (its layout is a subset)
    flay = str(tmp_path / "flay")
    convert_bag(spark, bag, flay, start_ns=T0)
    assert not os.path.exists(os.path.join(flay, INGEST_STATE))
    with pytest.raises(ValueError, match="no _ingest_state"):
        resume_convert_bag(spark, bag, flay)


def test_cli_resume(spark, tmp_path, capsys):
    """`convert --resume` routes the grown bag through the cursor path and
    writes INTO the existing layout (no outdir side-step); mode flags are
    refused (the layout's recorded modes win)."""
    from rosbag2parquet_spark.__main__ import main

    bag = str(tmp_path / "cli.db3")
    conns = [ConnectionInfo(1, "/imu", "sensor_msgs/ImuLite", "", IMU_DEF)]
    write_db3(bag, conns, _imu_msgs(0, 8))
    lay = str(tmp_path / "clilay")
    assert main(["--input", bag, "--outdir", lay]) == 0
    _grow_db3(bag, _imu_msgs(8, 14))
    assert main(["--input", bag, "--outdir", lay, "--resume"]) == 0
    n = spark.read.parquet(os.path.join(lay, "Messages")).count()
    assert n == 14
    assert (
        main(["--input", bag, "--outdir", lay, "--resume", "--arrays",
              "native"]) == 2
    )
    assert main(["--input", bag, "--outdir", lay, "--resume", "--append"]) == 2


def test_resume_mcap_grown_chunks(spark, tmp_path):
    """MCAP resume: the recorder appends whole chunks (and an attachment)
    after the converted prefix — resume converts only the new chunks
    (chunk-index cursor) and the result equals one-shot conversion of the
    grown file, attachments diff-appended; a second resume is a no-op."""
    from rosbag2parquet_spark.sources.mcap import write_mcap

    bag = str(tmp_path / "live.mcap")
    conns = [
        ConnectionInfo(1, "/imu", "sensor_msgs/ImuLite", "", IMU_DEF),
        # topic declared at recording start, first message arrives later —
        # the zero-message connection rides the dim (r7 export test shape)
        ConnectionInfo(2, "/gps", "demo/GpsLite", "", GPS_DEF),
    ]
    msgs1 = _imu_msgs(0, 18)  # 2 full chunks at chunk_messages=9
    write_mcap(bag, conns, msgs1, chunk_messages=9,
               metadata=[("recorder", {"ver": "1"})])
    lay = str(tmp_path / "lay")
    assert convert_bag(spark, bag, lay).count == 18
    state = json.load(open(os.path.join(lay, INGEST_STATE)))
    assert state["format"] == "mcap" and state["n_chunks"] == 2

    delta = _imu_msgs(18, 25) + [
        (2, T0 + (25 + i) * 1_000_000, _gps(i)) for i in range(5)
    ]
    att = [(T0, T0, "cal.yaml", "text/yaml", b"k: v")]
    write_mcap(bag, conns, msgs1 + sorted(delta, key=lambda m: m[1]),
               chunk_messages=9, attachments=att,
               metadata=[("recorder", {"ver": "1"}),
                         ("session", {"leg": "2"})])
    rinfo = resume_convert_bag(spark, bag, lay)
    assert rinfo.count == 12

    lay2 = str(tmp_path / "oneshot")
    convert_bag(spark, bag, lay2)
    assert _typed_rows(spark, lay) == _typed_rows(spark, lay2)
    assert _typed_rows(spark, lay, "demo_GpsLite") == _typed_rows(
        spark, lay2, "demo_GpsLite"
    )
    for t in ("Messages", "Connections", "Attachments", "Metadata"):
        a = sorted(map(tuple, spark.read.parquet(f"{lay}/{t}").collect()))
        b = sorted(map(tuple, spark.read.parquet(f"{lay2}/{t}").collect()))
        assert a == b, t

    state2 = json.load(open(os.path.join(lay, INGEST_STATE)))
    assert state2["n_chunks"] == 4 and state2["count"] == 30
    # idempotent — including attachments (already diff-appended)
    assert resume_convert_bag(spark, bag, lay).count == 0
    assert spark.read.parquet(f"{lay}/Attachments").count() == 1
    # metadata likewise diff-appended once: ver row from the first pass,
    # session row from the resume, no duplicates after the no-op pass
    assert spark.read.parquet(f"{lay}/Metadata").count() == 2


def test_resume_mcap_unchunked_grown(spark, tmp_path):
    """An unchunked MCAP (top-level Message records) resumes from the byte
    offset after its last converted Message record: grown from 10 to 15
    messages, the layout holds 15 rows numbered 0..14, equal to one-shot
    conversion; a second resume is a no-op, and a re-recorded file (same
    length prefix, different stamps) is refused before any write."""
    from rosbag2parquet_spark.sources.mcap import write_mcap

    bag = str(tmp_path / "flat.mcap")
    conns = [ConnectionInfo(1, "/imu", "sensor_msgs/ImuLite", "", IMU_DEF)]
    write_mcap(bag, conns, _imu_msgs(0, 10), chunked=False)
    lay = str(tmp_path / "lay")
    assert convert_bag(spark, bag, lay).count == 10
    state = json.load(open(os.path.join(lay, INGEST_STATE)))
    assert state["n_chunks"] == 0 and state["last_offset"] is not None

    write_mcap(bag, conns, _imu_msgs(0, 15), chunked=False)
    assert resume_convert_bag(spark, bag, lay).count == 5
    msgs = spark.read.parquet(os.path.join(lay, "Messages")).orderBy("seqno")
    assert [r.seqno for r in msgs.collect()] == list(range(15))
    lay2 = str(tmp_path / "oneshot")
    convert_bag(spark, bag, lay2)
    assert _typed_rows(spark, lay) == _typed_rows(spark, lay2)
    assert resume_convert_bag(spark, bag, lay).count == 0

    write_mcap(
        bag, conns,
        [(1, T0 + 7 + i * 999, encode_imu(i, (1, 1, 1), "x")) for i in range(20)],
        chunked=False,
    )
    with pytest.raises(ValueError, match="re-recorded"):
        resume_convert_bag(spark, bag, lay)
    assert spark.read.parquet(os.path.join(lay, "Messages")).count() == 15


def _dangling(spark, layout):
    """Messages connection ids with no Connections row."""
    msgs = spark.read.parquet(os.path.join(layout, "Messages"))
    conns = spark.read.parquet(os.path.join(layout, "Connections"))
    return {
        r.connection_id
        for r in msgs.join(conns, "connection_id", "left_anti").collect()
    }


def test_resume_mcap_grown_during_convert(spark, tmp_path, monkeypatch):
    """Chunks the recorder appends WHILE convert_bag writes stay out of
    the layout AND out of its cursor: the cursor covers the chunks the scan
    planned, so the next resume converts the rest and the layout equals a
    one-shot conversion of the grown file (30 rows)."""
    from rosbag2parquet_spark import convert as cv
    from rosbag2parquet_spark.sources.mcap import write_mcap

    bag = str(tmp_path / "race.mcap")
    conns = [ConnectionInfo(1, "/imu", "sensor_msgs/ImuLite", "", IMU_DEF)]
    write_mcap(bag, conns, _imu_msgs(0, 18), chunk_messages=9)
    real = cv._write_bag_tables

    def grow_then_write(*args, **kwargs):
        write_mcap(bag, conns, _imu_msgs(0, 30), chunk_messages=9)
        return real(*args, **kwargs)

    monkeypatch.setattr(cv, "_write_bag_tables", grow_then_write)
    lay = str(tmp_path / "lay")
    assert convert_bag(spark, bag, lay).count == 18
    monkeypatch.undo()
    assert resume_convert_bag(spark, bag, lay).count == 12

    lay2 = str(tmp_path / "oneshot")
    assert convert_bag(spark, bag, lay2).count == 30
    assert _typed_rows(spark, lay) == _typed_rows(spark, lay2)
    a = sorted(map(tuple, spark.read.parquet(f"{lay}/Messages").collect()))
    b = sorted(map(tuple, spark.read.parquet(f"{lay2}/Messages").collect()))
    assert len(a) == 30 and a == b


def test_resume_db3_topic_added_during_convert(spark, tmp_path, monkeypatch):
    """A topic and rows the recorder adds between convert_bag's open and
    its scan plan (so before the job) stay out of that convert: no Messages row names a connection
    the Connections dim lacks, and the next resume converts the new rows
    with their connection and per-type table."""
    from rosbag2parquet_spark import convert as cv

    bag = str(tmp_path / "race.db3")
    conns = [ConnectionInfo(1, "/imu", "sensor_msgs/ImuLite", "", IMU_DEF)]
    write_db3(bag, conns, _imu_msgs(0, 20))
    real = cv.plan_scan

    def grow_then_plan(*args, **kwargs):
        _grow_db3(
            bag,
            [(2, T0 + (20 + i) * 1_000_000, _gps(i)) for i in range(5)],
            new_topics=[(2, "/gps", "demo/GpsLite")],
            new_defs=[("demo/GpsLite", GPS_DEF)],
        )
        return real(*args, **kwargs)

    monkeypatch.setattr(cv, "plan_scan", grow_then_plan)
    lay = str(tmp_path / "lay")
    assert convert_bag(spark, bag, lay).count == 20
    monkeypatch.undo()
    assert _dangling(spark, lay) == set()

    assert resume_convert_bag(spark, bag, lay).count == 5
    assert _dangling(spark, lay) == set()
    lay2 = str(tmp_path / "oneshot")
    convert_bag(spark, bag, lay2)
    assert _typed_rows(spark, lay, "demo_GpsLite") == _typed_rows(
        spark, lay2, "demo_GpsLite"
    )
    for t in ("Messages", "Connections"):
        a = sorted(map(tuple, spark.read.parquet(f"{lay}/{t}").collect()))
        b = sorted(map(tuple, spark.read.parquet(f"{lay2}/{t}").collect()))
        assert a == b, t


def test_overwrite_drops_a_stale_ingest_state(spark, tmp_path):
    """An overwrite that writes no fresh resume state (here a fleet
    convert over a single-bag layout) removes the old one before it
    publishes: the cursor of bag a must not vouch for a fleet layout, so
    resuming a refuses."""
    conns = [ConnectionInfo(1, "/t", "d/S", "", "uint32 a\nfloat64 b")]
    a = str(tmp_path / "a.sbag")
    b = str(tmp_path / "b.sbag")
    write_bag(a, conns, [(1, T0 + i, struct.pack("<Id", i, 0.0)) for i in range(2)])
    write_bag(b, conns, [(1, T0 + 10, struct.pack("<Id", 9, 0.0))])
    lay = str(tmp_path / "lay")
    convert_bag(spark, a, lay)
    assert os.path.exists(os.path.join(lay, INGEST_STATE))
    assert convert_bags(spark, [a, b], lay).count == 3
    assert not os.path.exists(os.path.join(lay, INGEST_STATE))
    with pytest.raises(ValueError, match="no _ingest_state"):
        resume_convert_bag(spark, a, lay)
