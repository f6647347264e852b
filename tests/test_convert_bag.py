"""convert_bag: the reference's whole program over a real multi-type bag —
one FLATTENED typed table per message type, each decoded with its own
msg_def, plus Messages/Connections and the DDL script (the reference's
two_messages_test generalized to two TYPES)."""

import os
import struct

import pytest

from rosbag2parquet_spark.convert import convert_bag
from rosbag2parquet_spark.sources.baglike import ConnectionInfo, write_bag
from rosbag2parquet_spark.sources.rosbag import write_rosbag
from tests.test_baglike import ANGVEL, FRAME, LINACC, QUAT, SEQ, STAMP, _imu_payload
from tests.test_msgdef import IMU_DEF

GPS_DEF = "uint32 seq\ntime stamp\nfloat64 lat\nfloat64 lon\nstring status"


def _gps_payload(i: int) -> bytes:
    status = f"fix{i}".encode()
    return (
        struct.pack("<I", i)
        + struct.pack("<II", 50 + i, 60 + i)
        + struct.pack("<2d", 42.0 + i, -71.0 - i)
        + struct.pack("<I", len(status)) + status
    )


@pytest.fixture(scope="module", params=["sbag", "rosbag"])
def two_type_bag(request, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mt") / f"two_types.{'bag' if request.param == 'rosbag' else 'sbag'}")
    conns = [
        ConnectionInfo(1, "/imu", "sensor_msgs/Imu", "imu_md5", IMU_DEF),
        ConnectionInfo(2, "/gps", "nav_msgs/Gps", "gps_md5", GPS_DEF),
    ]
    imu = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    msgs = [
        (1, 1_000, imu),
        (2, 2_000, _gps_payload(0)),
        (1, 3_000, imu),
        (2, 4_000, _gps_payload(1)),
        (2, 5_000, _gps_payload(2)),
    ]
    writer = write_rosbag if request.param == "rosbag" else write_bag
    writer(path, conns, msgs)
    return path


def test_convert_bag_layout_and_values(spark, two_type_bag, tmp_path):
    out = str(tmp_path / "out")
    info = convert_bag(spark, two_type_bag, out)
    assert info.count == 5

    messages = spark.read.parquet(os.path.join(out, "Messages"))
    assert sorted(r.seqno for r in messages.collect()) == [0, 1, 2, 3, 4]

    imu = spark.read.parquet(os.path.join(out, "sensor_msgs_Imu"))
    assert imu.count() == 2
    r = imu.orderBy("seqno").collect()[0]
    assert r.seqno == 0 and r.connection_id == 1
    assert r.header_frame_id == FRAME and r.orientation_w == pytest.approx(0.44)
    assert r.data is not None  # raw blob carried (MessageTable.cpp:339-343)
    # layout: seqno first, connection_id+data last (MessageTable.cpp:326-343)
    assert imu.columns[0] == "seqno"
    assert imu.columns[-3:] == ["connection_id", "data", "bag_index"]

    gps = spark.read.parquet(os.path.join(out, "nav_msgs_Gps"))
    rows = gps.orderBy("seqno").collect()
    assert [r.seqno for r in rows] == [1, 3, 4]
    assert [r.status for r in rows] == ["fix0", "fix1", "fix2"]
    assert rows[2].lat == pytest.approx(44.0)

    ddl = open(os.path.join(out, "load_tables.sql")).read()
    assert "sensor_msgs_Imu" in ddl and "nav_msgs_Gps" in ddl


def test_convert_bag_md5_conflict_refused(spark, tmp_path):
    path = str(tmp_path / "conflict.sbag")
    conns = [
        ConnectionInfo(1, "/a", "demo/T", "md5_A", "uint32 x"),
        ConnectionInfo(2, "/b", "demo/T", "md5_B", "uint32 x"),
    ]
    write_bag(path, conns, [(1, 1, struct.pack("<I", 7)), (2, 2, struct.pack("<I", 8))])
    with pytest.raises(ValueError, match="md5sum"):
        convert_bag(spark, path, str(tmp_path / "out"))


def test_convert_bag_unsigned_exact(spark, tmp_path):
    """unsigned='exact' flows through the converter: a uint32 counter past
    2^31 lands positive in the typed table (the reference's documented
    signedness bug, rosbag2parquet.cpp:36, as an opt-in fix)."""
    path = str(tmp_path / "u.sbag")
    write_bag(
        path,
        [ConnectionInfo(1, "/c", "demo/Counter", "m1", "uint32 n")],
        [(1, 1_000, struct.pack("<I", 3_000_000_000))],
    )
    out = str(tmp_path / "out")
    convert_bag(spark, path, out, unsigned="exact")
    row = spark.read.parquet(os.path.join(out, "demo_Counter")).collect()[0]
    assert row.n == 3_000_000_000


def test_convert_bag_topic_and_time_filter(spark, two_type_bag, tmp_path):
    """topics/start_ns/end_ns convert a SUBSET (the `rosbag filter`
    workflow): only the selected topic's table exists, the time range
    prunes rows, and seqno renumbers contiguously."""
    out = str(tmp_path / "subset")
    info = convert_bag(
        spark, two_type_bag, out, topics=["/gps"], start_ns=2_000, end_ns=5_000
    )
    assert info.count == 2  # gps at 2k and 4k; 5k excluded by end, imu by topic
    gps = spark.read.parquet(os.path.join(out, "nav_msgs_Gps"))
    assert sorted(r.seqno for r in gps.collect()) == [0, 1]
    assert not os.path.isdir(os.path.join(out, "sensor_msgs_Imu"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no connections match"):
        convert_bag(spark, two_type_bag, str(tmp_path / "x"), topics=["/nope"])


def test_convert_bag_native_arrays(spark, two_type_bag, tmp_path):
    """arrays='native' through the converter: the IMU float64[9]
    orientation_covariance becomes a real array column."""
    out = str(tmp_path / "native")
    convert_bag(spark, two_type_bag, out, arrays="native")
    imu = spark.read.parquet(os.path.join(out, "sensor_msgs_Imu"))
    assert "orientation_covariance" in imu.columns
    row = imu.orderBy("seqno").collect()[0]
    assert len(row.orientation_covariance) == 9


def test_convert_bag_compression_codec(spark, two_type_bag, tmp_path):
    """--compression lands in the parquet footers of EVERY table (the
    reference hardcodes SNAPPY, MessageTable.cpp:324; zstd is the
    read-many choice at scale) and the data reads back identically."""
    import pyarrow.parquet as pq

    out_snappy = str(tmp_path / "snappy")
    out_zstd = str(tmp_path / "zstd")
    convert_bag(spark, two_type_bag, out_snappy)
    convert_bag(spark, two_type_bag, out_zstd, compression="zstd")

    def codecs(root):
        seen = set()
        for dp, _, fs in os.walk(root):
            for f in fs:
                if f.endswith(".parquet"):
                    md = pq.ParquetFile(os.path.join(dp, f)).metadata
                    for rg in range(md.num_row_groups):
                        seen.add(md.row_group(rg).column(0).compression)
        return seen

    assert codecs(out_snappy) == {"SNAPPY"}
    assert codecs(out_zstd) == {"ZSTD"}
    a = spark.read.parquet(os.path.join(out_snappy, "Messages"))
    b = spark.read.parquet(os.path.join(out_zstd, "Messages"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    with pytest.raises(ValueError, match="compression"):
        convert_bag(spark, two_type_bag, str(tmp_path / "bad"), compression="brotli9")


def test_convert_bag_permissive_survives_poison(spark, tmp_path):
    """A bag with one corrupt payload: strict conversion raises, permissive
    conversion completes with the bad row carried as NULL fields +
    _decode_error in its per-type table — the operational difference
    between losing a 100 TB job and losing one row."""
    import struct

    import pytest as _pytest

    from rosbag2parquet_spark.convert import convert_bag
    from rosbag2parquet_spark.sources.baglike import ConnectionInfo, write_bag

    deftext = "uint32 a\nstring s\n"
    good = lambda i: struct.pack("<I", i) + struct.pack("<I", 2) + b"ok"  # noqa: E731
    bad = struct.pack("<I", 9) + struct.pack("<I", 12345)
    path = str(tmp_path / "poison.sbag")
    msgs = [(1, 10**18 + i * 1000, good(i)) for i in range(6)]
    msgs.insert(4, (1, 10**18 + 3500, bad))
    write_bag(path, [ConnectionInfo(1, "/t", "demo/P", "", deftext)], msgs)

    with _pytest.raises(Exception):
        convert_bag(spark, path, str(tmp_path / "strict"))

    info = convert_bag(
        spark, path, str(tmp_path / "perm"), on_error="permissive"
    )
    assert info.count == 7
    t = spark.read.parquet(str(tmp_path / "perm") + "/demo_P")
    rows = t.orderBy("seqno").collect()
    assert len(rows) == 7
    bad_rows = [r for r in rows if r._decode_error is not None]
    assert len(bad_rows) == 1 and bad_rows[0].a is None
    # the raw blob is preserved even for the bad row — nothing is lost
    assert bytes(bad_rows[0].data) == bad


def test_convert_bag_max_mbs_prefix(spark, tmp_path):
    """--max_mbs parity on the BAG path (reference rosbag2parquet.cpp:56-58:
    stop once cumulative payload bytes pass the cap): conversion keeps the
    seqno-prefix whose running payload total fits, and the fleet path
    honors the same cap across bags."""
    from rosbag2parquet_spark.convert import convert_bag, convert_bags
    from rosbag2parquet_spark.sources.baglike import ConnectionInfo, write_bag

    import struct

    deftext = "uint32 a\n"
    conns = [ConnectionInfo(1, "/t", "demo/M", "", deftext)]
    # 10 messages x 4-byte payloads; the cap counts payload bytes, so a
    # 24-byte cap keeps exactly the first 6 messages in seqno order
    msgs = [
        (1, 10**18 + i * 1000, struct.pack("<I", i)) for i in range(10)
    ]
    path = str(tmp_path / "cap.sbag")
    write_bag(path, conns, msgs)

    out = str(tmp_path / "capped")
    info = convert_bag(spark, path, out, max_mbs=6 * 4 / (1 << 20))
    assert info.count == 6
    got = spark.read.parquet(out + "/Messages").orderBy("seqno").collect()
    assert [r.seqno for r in got] == list(range(6))
    # the kept prefix is the EARLIEST messages, values intact
    typed = spark.read.parquet(out + "/demo_M").orderBy("seqno").collect()
    assert [r.a for r in typed] == list(range(6))

    out2 = str(tmp_path / "capped_fleet")
    info2 = convert_bags(spark, [path], out2, max_mbs=6 * 4 / (1 << 20))
    assert info2.count == 6


def test_layout_info_matches_bag_info(spark, tmp_path, capsys):
    """`info` over a CONVERTED layout equals `info` over the source bag —
    same per-(type, topic) counts/bytes/rates computed from the two narrow
    metadata tables (no per-type blob read); the CLI routes a
    Messages-bearing directory to the layout path."""
    import struct

    from rosbag2parquet_spark.__main__ import main
    from rosbag2parquet_spark.convert import convert_bag
    from rosbag2parquet_spark.info import bag_info, layout_info
    from rosbag2parquet_spark.sources.baglike import ConnectionInfo, write_bag

    conns = [
        ConnectionInfo(1, "/a", "demo/A", "", "uint32 x\n"),
        ConnectionInfo(2, "/b", "demo/B", "", "uint64 y\n"),
    ]
    msgs = [
        (1 + i % 2, 10**18 + i * 10**6,
         struct.pack("<I", i) if i % 2 == 0 else struct.pack("<Q", i))
        for i in range(10)
    ]
    bag = str(tmp_path / "x.sbag")
    write_bag(bag, conns, msgs)
    out = str(tmp_path / "lay")
    convert_bag(spark, bag, out)

    a = {tuple(r) for r in bag_info(spark, bag).collect()}
    b = {tuple(r) for r in layout_info(spark, out).collect()}
    assert a == b

    assert main(["info", "--input", out]) == 0
    printed = capsys.readouterr().out
    assert "layout:" in printed and "TOTAL: 10 msgs" in printed


def test_reserved_column_collision_sanitized(spark, tmp_path):
    """A payload field named `data` (CompressedImage.data — the single
    most common blob field name in ROS) must not capture the table's raw
    payload column: the flattened column lands as `data_`, `data` stays
    the raw blob, and prefix-flatten collisions (`connection.id` →
    `connection_id`) plus a literal `seqno` field sanitize the same way.
    Before the fix this was an AMBIGUOUS_REFERENCE crash in the per-type
    select — blobs-mode CompressedImage conversion was impossible."""
    img_def = "string format\nuint8[] data"
    clash_def = (
        "int32 seqno\nConn connection\n"
        + "=" * 80
        + "\nMSG: demo/Conn\nint32 id"
    )
    conns = [
        ConnectionInfo(1, "/cam", "demo/Img", "", img_def),
        ConnectionInfo(2, "/clash", "demo/Clash", "", clash_def),
    ]
    blob = bytes(range(200))
    img = struct.pack("<I", 4) + b"jpeg" + struct.pack("<I", len(blob)) + blob
    clash = struct.pack("<ii", 77, 88)
    msgs = [(1, 1_000, img), (2, 2_000, clash)]
    bag = str(tmp_path / "clash.sbag")
    write_bag(bag, conns, msgs)
    out = str(tmp_path / "lay")
    convert_bag(spark, bag, out, arrays="blobs")

    im = spark.read.parquet(os.path.join(out, "demo_Img"))
    assert im.columns == [
        "seqno", "format", "data_", "connection_id", "data", "bag_index"
    ]
    r = im.first()
    assert bytes(r.data_) == blob and r.format == "jpeg"
    assert bytes(r.data) == img  # raw payload column intact

    cl = spark.read.parquet(os.path.join(out, "demo_Clash")).first()
    assert cl.seqno_ == 77 and cl.connection_id_ == 88
    assert cl.seqno == 1 and cl.connection_id == 2  # metadata untouched


def test_payload_bag_index_sanitized_and_stamp_unconditional(spark, tmp_path):
    """r11: `bag_index` is RESERVED — a payload field with that name
    sanitizes to `bag_index_` in every decoder tier, so the write-time
    provenance stamp (and `pertype_with_provenance`'s column dispatch) is
    unconditional: the stamp column carries the ordinal, the payload value
    survives under the sanitized name, and the provenance read resolves
    the REAL ordinal, never the payload value."""
    from rosbag2parquet_spark.convert import pertype_with_provenance

    defs = "int32 bag_index\nint32 v\n"
    conns = [ConnectionInfo(1, "/t", "demo/Tricky", "", defs)]
    msgs = [(1, 1_000 + i, struct.pack("<ii", 900 + i, i)) for i in range(3)]
    bag = str(tmp_path / "tricky.sbag")
    write_bag(bag, conns, msgs)
    out = str(tmp_path / "lay")
    convert_bag(spark, bag, out)

    t = spark.read.parquet(os.path.join(out, "demo_Tricky"))
    assert t.columns == [
        "seqno", "bag_index_", "v", "connection_id", "data", "bag_index"
    ]
    rows = {r.seqno: r for r in t.collect()}
    assert [rows[i].bag_index_ for i in range(3)] == [900, 901, 902]
    assert all(rows[i].bag_index == 0 for i in range(3))  # the real ordinal
    prov = pertype_with_provenance(spark, out, "demo_Tricky")
    assert {(r.bag_index, r.bag) for r in prov.collect()} == {
        (0, "tricky.sbag")
    }


def test_header_stamp_in_messages_table(spark, two_type_bag, tmp_path):
    """Reference TODO #6 (rosbag2parquet.cpp:27): the global Messages table
    carries the leading Header's stamp as a nullable int32 pair — decoded
    JVM-side from the blob prefix for Header-led types (Imu), NULL for
    types without one (Gps leads with a bare uint32 seq)."""
    out = str(tmp_path / "out_hs")
    convert_bag(spark, two_type_bag, out)
    msgs = spark.read.parquet(os.path.join(out, "Messages"))
    assert msgs.columns[-4:] == [
        "header_stamp_sec", "header_stamp_nsec", "time", "bag_index",
    ]
    rows = {r.seqno: r for r in msgs.collect()}
    # seqno 0, 2 are Imu (Header-led); 1, 3, 4 are Gps (no Header)
    for sq in (0, 2):
        assert (rows[sq].header_stamp_sec, rows[sq].header_stamp_nsec) == STAMP
    for sq in (1, 3, 4):
        assert rows[sq].header_stamp_sec is None
        assert rows[sq].header_stamp_nsec is None


def test_stats_table(spark, two_type_bag, tmp_path):
    """Reference TODO #2/#2.1 (rosbag2parquet.cpp:22-24): the `rosbag info`
    aggregates persist beside the layout — one Stats row per
    (batch, connection) with message count, time bounds, byte total; the
    values must equal the same aggregates recomputed from Messages."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "out_stats")
    convert_bag(spark, two_type_bag, out)
    stats = {
        r.connection_id: r
        for r in spark.read.parquet(os.path.join(out, "Stats")).collect()
    }
    msgs = spark.read.parquet(os.path.join(out, "Messages"))
    expect = {
        r.connection_id: r
        for r in msgs.groupBy("connection_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(
                F.col("time_sec").cast("long") * 1_000_000_000
                + F.col("time_nsec")
            ).alias("lo"),
            F.max(
                F.col("time_sec").cast("long") * 1_000_000_000
                + F.col("time_nsec")
            ).alias("hi"),
            F.sum(F.col("size").cast("long")).alias("b"),
        )
        .collect()
    }
    assert set(stats) == set(expect) == {1, 2}
    for cid, e in expect.items():
        s = stats[cid]
        assert s.n_messages == e.n
        assert s.min_time_ns == e.lo and s.max_time_ns == e.hi
        assert s.total_bytes == e.b
    ddl = open(os.path.join(out, "load_tables.sql")).read()
    assert "Stats" in ddl


def test_convert_fails_fast_on_bad_paths(spark, two_type_bag, tmp_path):
    """Reference TODO #1 (rosbag2parquet.cpp:21): invalid input/output
    paths refuse BEFORE any scan or decode work."""
    from rosbag2parquet_spark.convert import convert_bags

    with pytest.raises(FileNotFoundError, match="input bag not found"):
        convert_bag(spark, str(tmp_path / "ghost.bag"), str(tmp_path / "o"))
    with pytest.raises(NotADirectoryError, match="does not exist"):
        convert_bag(
            spark, two_type_bag, str(tmp_path / "no" / "such" / "parent")
        )
    f = tmp_path / "a_file"
    f.write_text("x")
    with pytest.raises(NotADirectoryError, match="is a file"):
        convert_bag(spark, two_type_bag, str(f))
    with pytest.raises(ValueError, match="no bag files found"):
        convert_bags(spark, str(tmp_path / "none_*.bag"), str(tmp_path / "o"))


def test_layout_info_from_stats_equals_messages_scan(spark, two_type_bag, tmp_path):
    """layout_info answers from the persisted Stats table when present
    (metadata-only `rosbag info`) and must equal the legacy
    Messages-scan fallback value for value."""
    import shutil

    from rosbag2parquet_spark.info import layout_info

    out = str(tmp_path / "out_info")
    convert_bag(spark, two_type_bag, out)
    via_stats = sorted(
        tuple(r) for r in layout_info(spark, out).collect()
    )
    # hide Stats -> fallback path
    shutil.move(os.path.join(out, "Stats"), os.path.join(out, "_hidden"))
    via_scan = sorted(tuple(r) for r in layout_info(spark, out).collect())
    assert via_stats == via_scan
    assert len(via_stats) >= 3  # two types + rollup rows


def test_header_stamp_jvm_decode_agrees_with_python_decoder(spark, tmp_path):
    """The Messages table's JVM blob-prefix stamp decode must agree with
    the Python per-row decoder's typed header_stamp columns — including
    at the signed-wrap edge (sec >= 2^31 reinterprets negative in BOTH,
    the reference's own INT32 storage) and nsec extremes."""
    from rosbag2parquet_spark.sources.baglike import ConnectionInfo, write_bag
    from tests.test_msgdef import IMU_DEF

    edge_stamps = [
        (0, 0),
        (1, 999_999_999),
        (2**31 - 1, 1),          # max positive int32 sec
        (2**31, 0),              # wraps negative in int32 storage
        (2**32 - 1, 123),        # u32 max -> -1
    ]
    path = str(tmp_path / "edge.sbag")
    conns = [ConnectionInfo(1, "/imu", "sensor_msgs/Imu", "m", IMU_DEF)]
    msgs = [
        (1, 1_000 + i, _imu_payload(i, st, FRAME, QUAT, ANGVEL, LINACC))
        for i, st in enumerate(edge_stamps)
    ]
    write_bag(path, conns, msgs)
    out = str(tmp_path / "out")
    convert_bag(spark, path, out)

    got = {
        r.seqno: (r.header_stamp_sec, r.header_stamp_nsec)
        for r in spark.read.parquet(os.path.join(out, "Messages")).collect()
    }
    typed = {
        r.seqno: (r.header_stamp_sec, r.header_stamp_nsec)
        for r in spark.read.parquet(
            os.path.join(out, "sensor_msgs_Imu")
        ).collect()
    }
    assert got == typed
    # spot-check the signed reinterpretation explicitly
    assert got[3][0] == -(2**31)
    assert got[4][0] == -1


def test_derived_time_column_matches_ns_pair(spark, two_type_bag, tmp_path):
    """Reference TODO #7 (rosbag2parquet.cpp:31-32, "want native
    timestamps"): Messages carries a derived TimestampType `time` beside
    the bit-exact sec/nsec pair — microsecond precision (the documented
    ns→µs loss), floor semantics so a pre-1970 instant rounds DOWN like
    every bucket derivation in the engine."""
    import datetime

    out = str(tmp_path / "out_time")
    convert_bag(spark, two_type_bag, out)
    msgs = spark.read.parquet(os.path.join(out, "Messages"))
    assert dict(msgs.dtypes)["time"] == "timestamp"
    for r in msgs.collect():
        ns = r.time_sec * 1_000_000_000 + r.time_nsec
        want = datetime.datetime.fromtimestamp(
            (ns - (ns % 1000)) // 1000 / 1e6, tz=datetime.timezone.utc
        )
        assert r.time.replace(tzinfo=datetime.timezone.utc) == want


def test_single_bag_layout_has_bags_manifest(spark, tmp_path):
    """Single-bag conversions write the same Bags manifest the fleet path
    does (one row, ordinal 0), so pertype_with_provenance resolves names
    uniformly across ingest modes; a later fleet APPEND continues the
    ordinal from the manifest."""
    import os

    from rosbag2parquet_spark.convert import convert_bag
    from rosbag2parquet_spark.sources.baglike import ConnectionInfo, write_bag
    from tests.test_baglike import (
        ANGVEL,
        FRAME,
        LINACC,
        QUAT,
        SEQ,
        STAMP,
        _imu_payload,
    )
    from tests.test_msgdef import IMU_DEF

    bag = str(tmp_path / "solo.sbag")
    imu = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    write_bag(
        bag,
        [ConnectionInfo(1, topic="/imu", datatype="sensor_msgs/Imu",
                        md5sum="imu_md5", msg_def=IMU_DEF)],
        [(1, 1_000, imu), (1, 2_000, imu)],
    )
    out = str(tmp_path / "solo_out")
    convert_bag(spark, bag, out)
    rows = spark.read.parquet(os.path.join(out, "Bags")).collect()
    assert [(r.bag_index, r.bag, r.format) for r in rows] == [
        (0, "solo.sbag", "sbag")
    ]
    assert rows[0].path == bag

    from rosbag2parquet_spark.convert import pertype_with_provenance

    got = pertype_with_provenance(spark, out, "sensor_msgs_Imu")
    assert {(r.bag_index, r.bag) for r in got.collect()} == {(0, "solo.sbag")}


def _multi_chunk_rosbag(path: str, n: int = 60, per_chunk: int = 7) -> None:
    """Two types on three connections over ceil(n/per_chunk) chunks."""
    conns = [
        ConnectionInfo(1, "/imu", "sensor_msgs/Imu", "imu_md5", IMU_DEF),
        ConnectionInfo(2, "/gps", "nav_msgs/Gps", "gps_md5", GPS_DEF),
        ConnectionInfo(3, "/gps2", "nav_msgs/Gps", "gps_md5", GPS_DEF),
    ]
    imu = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    msgs = [
        (1, 1_000 * (i + 1), imu) if i % 3 == 0
        else (2 + i % 2, 1_000 * (i + 1), _gps_payload(i))
        for i in range(n)
    ]
    write_rosbag(path, conns, msgs, compression="lz4", messages_per_chunk=per_chunk)


def _messages_rows(spark, out: str) -> list:
    return [
        tuple(r)
        for r in spark.read.parquet(os.path.join(out, "Messages"))
        .select("seqno", "time_sec", "time_nsec", "size", "connection_id")
        .orderBy("seqno")
        .collect()
    ]


def _file_seqno_ranges(out: str, table: str) -> list:
    import glob

    import pyarrow.parquet as pq

    ranges = []
    for f in glob.glob(os.path.join(out, table, "*.parquet")):
        col = pq.read_table(f, columns=["seqno"]).column("seqno")
        if len(col):
            ranges.append((col.to_pandas().min(), col.to_pandas().max()))
    return sorted(ranges)


def test_index_seqno_count_mismatch_raises(spark, tmp_path):
    """A ChunkInfo that under-declares one chunk must never yield
    duplicate or missing seqnos: convert_bag raises naming the chunk."""
    from tests.test_rosbag import under_declare_chunk

    path = str(tmp_path / "short.bag")
    _multi_chunk_rosbag(path)
    pos = under_declare_chunk(path, 3)
    with pytest.raises(ValueError, match=f"chunk 3 at byte {pos} holds 7"):
        convert_bag(spark, path, str(tmp_path / "out"), num_partitions=2)


def test_unindexed_rosbag_converts_to_same_layout(spark, tmp_path):
    """Without the index region (a crashed recorder) the bag's split bases
    come from the count job, and it lands the same layout as the indexed
    bag, whose bases come from its declared counts."""
    from rosbag2parquet_spark.sources.container import index_seqno_bases, open_bag
    from rosbag2parquet_spark.sources.rosbag import _read_record_at, scan_rosbag

    path = str(tmp_path / "indexed.bag")
    _multi_chunk_rosbag(path)
    _, chunks = scan_rosbag(path)
    with open(path, "rb") as f:
        end = _read_record_at(f, chunks[-1].pos)[3]
        f.seek(0)
        head = f.read(end)
    unindexed = str(tmp_path / "unindexed.bag")
    with open(unindexed, "wb") as f:
        f.write(head)
    assert index_seqno_bases(open_bag(path).units) is not None
    assert index_seqno_bases(open_bag(unindexed).units) is None

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    assert convert_bag(spark, path, a).count == 60
    assert convert_bag(spark, unindexed, b).count == 60
    assert _messages_rows(spark, a) == _messages_rows(spark, b)
    assert [r[0] for r in _messages_rows(spark, a)] == list(range(60))
    for table in ("sensor_msgs_Imu", "nav_msgs_Gps"):
        ta = spark.read.parquet(os.path.join(a, table)).drop("bag_index")
        tb = spark.read.parquet(os.path.join(b, table)).drop("bag_index")
        assert ta.count() > 0 and ta.exceptAll(tb).count() == 0
        assert tb.exceptAll(ta).count() == 0


def test_filtered_rosbag_convert_renumbers(spark, tmp_path):
    """Topic- and time-filtered converts of an indexed multi-chunk bag
    number the kept rows 0..N-1 in bag order."""
    path = str(tmp_path / "filt.bag")
    _multi_chunk_rosbag(path)
    out = str(tmp_path / "topics")
    info = convert_bag(spark, path, out, topics=["/gps"])
    rows = _messages_rows(spark, out)
    assert info.count == len(rows) == 20
    assert [r[0] for r in rows] == list(range(20))
    assert {r[4] for r in rows} == {2}
    # time window [10 us, 30 us): messages 9..28 in bag order
    out = str(tmp_path / "window")
    info = convert_bag(spark, path, out, start_ns=10_000, end_ns=30_000)
    rows = _messages_rows(spark, out)
    assert [r[0] for r in rows] == list(range(20))
    assert [r[2] for r in rows] == [1_000 * (i + 1) for i in range(9, 29)]


def test_messages_files_disjoint_seqno_ranges(spark, tmp_path):
    """Scan splits are contiguous chunk ranges, so each Messages and
    per-type file covers one disjoint seqno range — file-level min/max
    skipping on seqno works."""
    path = str(tmp_path / "ranges.bag")
    _multi_chunk_rosbag(path, n=90, per_chunk=10)
    out = str(tmp_path / "out")
    convert_bag(spark, path, out, num_partitions=3)
    for table in ("Messages", "nav_msgs_Gps"):
        ranges = _file_seqno_ranges(out, table)
        assert len(ranges) == 3
        assert all(hi < lo for (_, hi), (lo, _) in zip(ranges, ranges[1:]))
    ranges = _file_seqno_ranges(out, "Messages")
    assert ranges[0][0] == 0 and ranges[-1][1] == 89
    assert all(hi + 1 == lo for (_, hi), (lo, _) in zip(ranges, ranges[1:]))


def test_scan_split_sizing(spark, tmp_path):
    """num_partitions=None sizes the scan like a Spark file scan from the
    session's settings: 2 splits for a ~4.7 MB bag on 4 cores, ~800 for
    100 GB; an explicit num_partitions is still honored."""
    from rosbag2parquet_spark.convert import (
        _conf_bytes,
        scan_partitions,
        split_count,
    )

    max_bytes = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes")
    open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes")
    assert split_count(4_726_474, 4, max_bytes, open_cost) == 2
    assert split_count(100 << 30, 4, max_bytes, open_cost) == 800
    assert split_count(0, 4, max_bytes, open_cost) == 1
    assert scan_partitions(spark, 100 << 30) == 800
    key = "spark.sql.files.openCostInBytes"
    spark.conf.set(key, "1m")
    try:
        assert _conf_bytes(spark, key) == 1 << 20
    finally:
        spark.conf.unset(key)

    path = str(tmp_path / "small.bag")
    _multi_chunk_rosbag(path, n=90, per_chunk=10)
    default_out, explicit_out = str(tmp_path / "d"), str(tmp_path / "e")
    convert_bag(spark, path, default_out)
    convert_bag(spark, path, explicit_out, num_partitions=4)
    assert len(_file_seqno_ranges(default_out, "Messages")) == 1
    assert len(_file_seqno_ranges(explicit_out, "Messages")) == 4
