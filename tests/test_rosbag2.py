"""ROS 2 rosbag2 (.db3 sqlite3 storage) source tests: container scan,
CDR decode (alignment, strings-with-NUL, sequences, nested structs),
and the converter end-to-end over a ROS 2 bag."""

import os
import sqlite3
import struct

import pytest
from pyspark.sql import functions as F

from rosbag2parquet_spark.sources.decode import decode_messages, make_decoder
from rosbag2parquet_spark.sources.msgdef import parse_msgdef, to_struct_type
from rosbag2parquet_spark.sources.container import (
    connections_df,
    open_bag,
    read_messages,
)
from rosbag2parquet_spark.sources.rosbag2 import (
    CDR_LE_HEADER,
    is_rosbag2,
    read_topics,
)

POSE_DEF = """std_msgs/Header header
float64 x
float64 y
uint8 flags
string label
================================================================================
MSG: std_msgs/Header
uint32 seq
builtin_interfaces/Time stamp
string frame_id
================================================================================
MSG: builtin_interfaces/Time
int32 sec
uint32 nanosec
"""

IMU_DEF = """uint32 seq
float64[3] accel
string frame
"""


def _align(buf: bytearray, size: int) -> None:
    # CDR alignment is relative to the post-encapsulation origin
    rel = len(buf) - 4
    buf.extend(b"\x00" * ((-rel) % min(size, 8)))


def _cdr_string(buf: bytearray, s: str) -> None:
    _align(buf, 4)
    raw = s.encode() + b"\x00"
    buf.extend(struct.pack("<I", len(raw)))
    buf.extend(raw)


def encode_pose(seq, sec, nanosec, frame_id, x, y, flags, label) -> bytes:
    buf = bytearray(CDR_LE_HEADER)
    buf.extend(struct.pack("<I", seq))
    _align(buf, 4)
    buf.extend(struct.pack("<iI", sec, nanosec))
    _cdr_string(buf, frame_id)
    _align(buf, 8)
    buf.extend(struct.pack("<dd", x, y))
    buf.extend(struct.pack("<B", flags))
    _cdr_string(buf, label)
    return bytes(buf)


def encode_imu(seq, accel, frame) -> bytes:
    buf = bytearray(CDR_LE_HEADER)
    buf.extend(struct.pack("<I", seq))
    _align(buf, 8)
    buf.extend(struct.pack("<3d", *accel))
    _cdr_string(buf, frame)
    return bytes(buf)


@pytest.fixture(scope="module")
def db3_bag(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rosbag2") / "robot.db3")
    con = sqlite3.connect(path)
    con.execute(
        "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT,"
        " serialization_format TEXT, offered_qos_profiles TEXT)"
    )
    con.execute(
        "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER,"
        " timestamp INTEGER, data BLOB)"
    )
    con.execute(
        "INSERT INTO topics VALUES (1, '/pose', 'geometry_msgs/PoseLite', 'cdr', '')"
    )
    con.execute(
        "INSERT INTO topics VALUES (2, '/imu', 'sensor_msgs/ImuLite', 'cdr', '')"
    )
    t0 = 1_700_000_000_000_000_000
    rows = []
    for i in range(40):
        if i % 2 == 0:
            data = encode_pose(
                i, 1_700_000_000 + i, i * 1000, "map", i * 1.5, -i * 0.25,
                i % 7, f"wp{i}",
            )
            rows.append((None, 1, t0 + i * 1_000_000, data))
        else:
            data = encode_imu(i, (0.1 * i, -0.2 * i, 9.81), "base")
            rows.append((None, 2, t0 + i * 1_000_000, data))
    con.executemany("INSERT INTO messages VALUES (?,?,?,?)", rows)
    con.commit()
    con.close()
    return path


MSGDEFS = {
    "geometry_msgs/PoseLite": POSE_DEF,
    "sensor_msgs/ImuLite": IMU_DEF,
}


def test_magic_detection(db3_bag, tmp_path):
    assert is_rosbag2(db3_bag)
    other = tmp_path / "x.bin"
    other.write_bytes(b"#ROSBAG V2.0\n")
    assert not is_rosbag2(str(other))


def test_topics_and_connections(spark, db3_bag):
    ts = read_topics(db3_bag)
    assert [(t.topic_id, t.name, t.datatype) for t in ts] == [
        (1, "/pose", "geometry_msgs/PoseLite"),
        (2, "/imu", "sensor_msgs/ImuLite"),
    ]
    conns = connections_df(spark, open_bag(db3_bag, MSGDEFS).conn_rows)
    assert conns.columns == [
        "connection_id", "topic", "datatype", "md5sum", "msg_def",
        "callerid", "latching",
    ]
    assert conns.count() == 2
    with pytest.raises(ValueError, match="no message definition"):
        connections_df(spark, open_bag(db3_bag, {}).conn_rows)


def test_scan_partitioned(spark, db3_bag):
    df = read_messages(spark, db3_bag, num_partitions=4)
    rows = df.orderBy("offset").collect()
    assert len(rows) == 40
    assert [r.offset for r in rows] == list(range(1, 41))
    assert rows[0].conn_id == 1 and rows[1].conn_id == 2
    # partitioned scan must equal the single-partition scan exactly
    one = read_messages(spark, db3_bag, num_partitions=1)
    assert df.exceptAll(one).count() == 0 and one.exceptAll(df).count() == 0


def test_cdr_decoder_values():
    specs = parse_msgdef("geometry_msgs/PoseLite", POSE_DEF)
    dec = make_decoder("geometry_msgs/PoseLite", specs, serialization="cdr")
    vals = dec(encode_pose(7, 123, 456, "map", 2.5, -1.25, 3, "home"))
    # flattened order: header_seq, header_stamp_sec, header_stamp_nanosec,
    # header_frame_id, x, y, flags, label
    assert vals == (7, 123, 456, "map", 2.5, -1.25, 3, "home")


def test_cdr_decoder_alignment_odd_strings():
    """Strings of varying length force realignment before the doubles —
    the case that distinguishes CDR from ROS 1 packed serialization."""
    specs = parse_msgdef("geometry_msgs/PoseLite", POSE_DEF)
    dec = make_decoder("geometry_msgs/PoseLite", specs, serialization="cdr")
    for frame in ("", "a", "ab", "abc", "abcd", "abcde"):
        vals = dec(encode_pose(1, 2, 3, frame, 1.0, 2.0, 9, "x"))
        assert vals[3] == frame and vals[4] == 1.0 and vals[5] == 2.0


def test_cdr_native_arrays():
    specs = parse_msgdef("sensor_msgs/ImuLite", IMU_DEF)
    dec = make_decoder(
        "sensor_msgs/ImuLite", specs, arrays="native", serialization="cdr"
    )
    vals = dec(encode_imu(5, (1.0, 2.0, 3.0), "base"))
    assert vals == (5, [1.0, 2.0, 3.0], "base")
    # skip mode: array omitted, scalars still aligned correctly after it
    dec_skip = make_decoder(
        "sensor_msgs/ImuLite", specs, arrays="skip", serialization="cdr"
    )
    assert dec_skip(encode_imu(5, (1.0, 2.0, 3.0), "base")) == (5, "base")


_TF_DEPS = """
================================================================================
MSG: geometry_msgs/TransformStamped
std_msgs/Header header
string child_frame_id
geometry_msgs/Transform transform
================================================================================
MSG: std_msgs/Header
builtin_interfaces/Time stamp
string frame_id
================================================================================
MSG: builtin_interfaces/Time
int32 sec
uint32 nanosec
================================================================================
MSG: geometry_msgs/Transform
geometry_msgs/Vector3 translation
geometry_msgs/Quaternion rotation
================================================================================
MSG: geometry_msgs/Vector3
float64 x
float64 y
float64 z
================================================================================
MSG: geometry_msgs/Quaternion
float64 x
float64 y
float64 z
float64 w
"""
# tf2_msgs/TFMessage verbatim, and a twin with fields around the array so
# the walk's position after it is observable
TF_DEF = "geometry_msgs/TransformStamped[] transforms" + _TF_DEPS
TF_TAGGED_DEF = (
    "string name\ngeometry_msgs/TransformStamped[] transforms\nint32 tail"
    + _TF_DEPS
)


def _cdr_transforms(buf: bytearray, transforms) -> None:
    _align(buf, 4)
    buf.extend(struct.pack("<I", len(transforms)))
    for sec, nanosec, frame, child, xyz, quat in transforms:
        _align(buf, 4)
        buf.extend(struct.pack("<iI", sec, nanosec))
        _cdr_string(buf, frame)
        _cdr_string(buf, child)
        _align(buf, 8)
        buf.extend(struct.pack("<3d", *xyz))
        buf.extend(struct.pack("<4d", *quat))


def _tf_transforms(i: int):
    # odd-length frame names move every element's 8-byte alignment
    return [
        (i, 10 * k, "o" * ((i + k) % 4), "c" * (k + 1), (k, -k, 0.5),
         (0.0, 0.0, 0.0, 1.0))
        for k in range(i % 3)
    ]


def encode_tf(transforms) -> bytes:
    buf = bytearray(CDR_LE_HEADER)
    _cdr_transforms(buf, transforms)
    return bytes(buf)


def encode_tf_tagged(name, transforms, tail) -> bytes:
    buf = bytearray(CDR_LE_HEADER)
    _cdr_string(buf, name)
    _cdr_transforms(buf, transforms)
    _align(buf, 4)
    buf.extend(struct.pack("<i", tail))
    return bytes(buf)


def test_cdr_skips_arrays_of_nested_messages():
    """An array of variable-size messages (TFMessage's TransformStamped[])
    is skipped in both skip and native modes — the schema has no column
    for it — and the walk lands exactly on the fields after it."""
    tf = parse_msgdef("tf2_msgs/TFMessage", TF_DEF)
    tagged = parse_msgdef("demo/TaggedTF", TF_TAGGED_DEF)
    for mode in ("skip", "native"):
        dec_tf = make_decoder(
            "tf2_msgs/TFMessage", tf, arrays=mode, serialization="cdr"
        )
        dec = make_decoder(
            "demo/TaggedTF", tagged, arrays=mode, serialization="cdr"
        )
        for i in range(6):
            assert dec_tf(encode_tf(_tf_transforms(i))) == ()
            got = dec(encode_tf_tagged("ab"[: i % 3], _tf_transforms(i), 7 - i))
            assert got == ("ab"[: i % 3], 7 - i), (mode, i)


def test_convert_bag_rosbag2_tf_topic(spark, tmp_path):
    """A .db3 with a TFMessage topic converts: its per-type tables land
    with every message, the tagged twin's fields decoded around the
    skipped array."""
    from rosbag2parquet_spark.convert import convert_bag
    from rosbag2parquet_spark.sources.baglike import ConnectionInfo
    from rosbag2parquet_spark.sources.rosbag2 import write_db3

    path = str(tmp_path / "tf.db3")
    t0 = 1_700_000_000_000_000_000
    msgs = []
    for i in range(12):
        msgs.append((1, t0 + 2 * i, encode_tf(_tf_transforms(i))))
        msgs.append(
            (2, t0 + 2 * i + 1,
             encode_tf_tagged(f"n{i}", _tf_transforms(i), 100 + i))
        )
    write_db3(
        path,
        [
            ConnectionInfo(1, "/tf", "tf2_msgs/TFMessage", "", TF_DEF),
            ConnectionInfo(2, "/tagged", "demo/TaggedTF", "", TF_TAGGED_DEF),
        ],
        msgs,
    )
    out = str(tmp_path / "out")
    info = convert_bag(spark, path, out)
    assert info.count == 24
    assert spark.read.parquet(out + "/tf2_msgs_TFMessage").count() == 12
    rows = spark.read.parquet(out + "/demo_TaggedTF").orderBy("seqno").collect()
    assert [(r.name, r.tail) for r in rows] == [
        (f"n{i}", 100 + i) for i in range(12)
    ]


def test_decode_messages_cdr_distributed(spark, db3_bag):
    msgs = read_messages(spark, db3_bag, num_partitions=3)
    pose = msgs.filter(F.col("conn_id") == 1)
    flat = decode_messages(
        pose, "geometry_msgs/PoseLite", POSE_DEF, serialization="cdr"
    ).orderBy("offset")
    rows = flat.collect()
    assert len(rows) == 20
    assert rows[0].header_frame_id == "map"
    assert rows[3].x == 6 * 1.5 and rows[3].label == "wp6"
    # schema is the SAME compiler both generations share
    specs = parse_msgdef("geometry_msgs/PoseLite", POSE_DEF)
    flat_schema = to_struct_type("geometry_msgs/PoseLite", specs)
    assert [f.name for f in flat_schema.fields] == [
        c for c in flat.columns if c not in ("offset", "time_ns", "conn_id")
    ]


def test_convert_bag_rosbag2(spark, db3_bag, tmp_path):
    from rosbag2parquet_spark.convert import convert_bag

    out = str(tmp_path / "out")
    info = convert_bag(spark, db3_bag, out, msgdefs=MSGDEFS)
    assert info.count == 40
    msgs = spark.read.parquet(out + "/Messages").orderBy("seqno").collect()
    assert [m.seqno for m in msgs] == list(range(40))
    assert msgs[0].connection_id == 1 and msgs[1].connection_id == 2
    pose = spark.read.parquet(out + "/geometry_msgs_PoseLite")
    assert pose.count() == 20
    r = pose.orderBy("seqno").first()
    assert r.header_frame_id == "map" and r.label == "wp0"
    assert bytes(r.data).startswith(CDR_LE_HEADER)
    conns = spark.read.parquet(out + "/Connections")
    assert conns.count() == 2


def test_convert_bag_rosbag2_requires_msgdefs(spark, db3_bag, tmp_path):
    from rosbag2parquet_spark.convert import convert_bag

    with pytest.raises(ValueError, match="msgdefs"):
        convert_bag(spark, db3_bag, str(tmp_path / "nope"))


def test_fleet_db3_without_defs_fails_loudly(db3_bag, spark, tmp_path):
    """Fleets now ACCEPT .db3 — but a pre-Iron shard with no embedded defs
    and no caller msgdefs must still fail at plan time, not mid-decode."""
    from rosbag2parquet_spark.convert import convert_bags

    with pytest.raises(ValueError, match="no message definition"):
        convert_bags(spark, [db3_bag], str(tmp_path / "fleet"))


def test_fleet_refuses_mixed_serializations(db3_bag_embedded, spark, tmp_path):
    """ros1 (SBAG) + cdr (.db3) in one fleet → refused up front: the
    per-type decode dispatches once per type."""
    from rosbag2parquet_spark.convert import convert_bags
    from rosbag2parquet_spark.sources.baglike import ConnectionInfo, write_bag

    sbag = str(tmp_path / "one.sbag")
    write_bag(
        sbag,
        [ConnectionInfo(1, "/t", "pkg/T", "", "int32 v\n")],
        [(1, 1_700_000_000_000_000_000, struct.pack("<i", 5))],
    )
    with pytest.raises(ValueError, match="mixes payload serializations"):
        convert_bags(
            spark, [sbag, db3_bag_embedded], str(tmp_path / "fleet")
        )


FIXED_DEF = """uint32 seq
builtin_interfaces/Time stamp
float64[3] accel
int16 temp
bool valid
================================================================================
MSG: builtin_interfaces/Time
int32 sec
uint32 nanosec
"""


def encode_fixed(seq, sec, nanosec, accel, temp, valid) -> bytes:
    buf = bytearray(CDR_LE_HEADER)
    buf.extend(struct.pack("<I", seq))
    buf.extend(struct.pack("<iI", sec, nanosec))
    _align(buf, 8)
    buf.extend(struct.pack("<3d", *accel))
    buf.extend(struct.pack("<h", temp))
    buf.extend(struct.pack("<?", valid))
    return bytes(buf)


def test_cdr_fixed_layout_detection():
    from rosbag2parquet_spark.sources.decode import fixed_layout

    specs = parse_msgdef("sensor_msgs/Fixed", FIXED_DEF)
    dt = fixed_layout(
        "sensor_msgs/Fixed", specs, arrays="native", serialization="cdr"
    )
    assert dt is not None
    # u32(0..4) + time(4..12) + pad(12..16) + 3d(16..40) + i16(40..42) + bool
    assert dt.itemsize == 43
    assert dt.fields["accel"][1] == 16
    # any string field disables the tier
    pose_specs = parse_msgdef("geometry_msgs/PoseLite", POSE_DEF)
    assert fixed_layout(
        "geometry_msgs/PoseLite", pose_specs, serialization="cdr"
    ) is None


def test_cdr_fixed_tier_tolerates_trailing_pad():
    """CDR writers may pad a payload by up to 7 bytes: the fixed-stride
    tier decodes padded batches like the per-row walk does and refuses
    anything past that."""
    from rosbag2parquet_spark.sources.decode import (
        fixed_layout,
        make_fixed_decoder,
    )

    specs = parse_msgdef("sensor_msgs/Fixed", FIXED_DEF)
    dec = make_fixed_decoder(
        fixed_layout("sensor_msgs/Fixed", specs, serialization="cdr"), "cdr"
    )
    rows = [encode_fixed(i, i, i, (0.5, 1.5, 2.5), -i, True) for i in range(4)]
    want = dec(rows)
    got = dec([r + b"\x00" for r in rows])
    assert [list(v) for v in got.values()] == [list(v) for v in want.values()]
    with pytest.raises(ValueError, match="fixed-stride"):
        dec([r + b"\x00" * 8 for r in rows])


def test_cdr_vectorized_tier_matches_per_row(spark):
    """The frombuffer tier and the per-row walk must agree value-for-value
    (the ROS 1 decoder has the same cross-tier fuzz guarantee)."""
    specs = parse_msgdef("sensor_msgs/Fixed", FIXED_DEF)
    dec = make_decoder(
        "sensor_msgs/Fixed", specs, arrays="native", serialization="cdr"
    )
    payloads = [
        encode_fixed(i, 100 + i, i * 7, (i * 0.5, -i, 9.81), i - 5, i % 2 == 0)
        for i in range(50)
    ]
    rows = [(i + 1, 1_000 + i, 1, p) for i, p in enumerate(payloads)]
    df = spark.createDataFrame(
        rows, "offset long, time_ns long, conn_id int, data binary"
    ).repartition(3)
    flat = decode_messages(
        df, "sensor_msgs/Fixed", FIXED_DEF, arrays="native",
        serialization="cdr",
    )
    got = {r.offset: r for r in flat.collect()}
    assert len(got) == 50
    for i, p in enumerate(payloads):
        want = dec(p)
        r = got[i + 1]
        assert (
            r.seq, r.stamp_sec, r.stamp_nanosec, list(r.accel), r.temp, r.valid
        ) == (want[0], want[1], want[2], list(want[3]), want[4], want[5])


@pytest.fixture(scope="module")
def db3_bag_embedded(tmp_path_factory):
    """Same content as db3_bag but with the Iron+ (sqlite storage schema
    v4) ``message_definitions`` table embedded — the self-describing case:
    schema text travels inside the container, no side channel needed."""
    path = str(tmp_path_factory.mktemp("rosbag2_v4") / "robot_v4.db3")
    con = sqlite3.connect(path)
    con.execute(
        "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT,"
        " serialization_format TEXT, offered_qos_profiles TEXT,"
        " type_description_hash TEXT)"
    )
    con.execute(
        "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER,"
        " timestamp INTEGER, data BLOB)"
    )
    con.execute(
        "CREATE TABLE message_definitions(id INTEGER PRIMARY KEY,"
        " topic_type TEXT, encoding TEXT, encoded_message_definition TEXT,"
        " type_description_hash TEXT)"
    )
    con.execute(
        "INSERT INTO topics VALUES"
        " (1, '/pose', 'geometry_msgs/PoseLite', 'cdr', '', 'h1')"
    )
    con.execute(
        "INSERT INTO topics VALUES"
        " (2, '/imu', 'sensor_msgs/ImuLite', 'cdr', '', 'h2')"
    )
    con.execute(
        "INSERT INTO message_definitions VALUES"
        " (1, 'geometry_msgs/PoseLite', 'ros2msg', ?, 'h1')",
        (POSE_DEF,),
    )
    con.execute(
        "INSERT INTO message_definitions VALUES"
        " (2, 'sensor_msgs/ImuLite', 'ros2msg', ?, 'h2')",
        (IMU_DEF,),
    )
    # an idl-encoded duplicate must be skipped, not crash the reader
    con.execute(
        "INSERT INTO message_definitions VALUES"
        " (3, 'sensor_msgs/ImuLite', 'ros2idl', 'module sensor_msgs ...',"
        " 'h2')"
    )
    t0 = 1_700_000_000_000_000_000
    rows = []
    for i in range(40):
        if i % 2 == 0:
            data = encode_pose(
                i, 1_700_000_000 + i, i * 1000, "map", i * 1.5, -i * 0.25,
                i % 7, f"wp{i}",
            )
            rows.append((None, 1, t0 + i * 1_000_000, data))
        else:
            data = encode_imu(i, (0.1 * i, -0.2 * i, 9.81), "base")
            rows.append((None, 2, t0 + i * 1_000_000, data))
    con.executemany("INSERT INTO messages VALUES (?,?,?,?)", rows)
    con.commit()
    con.close()
    return path


def test_embedded_msgdefs_read(db3_bag_embedded, db3_bag):
    from rosbag2parquet_spark.sources.rosbag2 import read_embedded_msgdefs

    defs = read_embedded_msgdefs(db3_bag_embedded)
    assert defs == {
        "geometry_msgs/PoseLite": POSE_DEF,
        "sensor_msgs/ImuLite": IMU_DEF,
    }
    # pre-Iron bag: no table, no defs — and no error
    assert read_embedded_msgdefs(db3_bag) == {}


def test_connections_from_embedded_defs(spark, db3_bag_embedded):
    conns = connections_df(spark, open_bag(db3_bag_embedded).conn_rows).collect()
    assert {(c.datatype, c.msg_def) for c in conns} == {
        ("geometry_msgs/PoseLite", POSE_DEF),
        ("sensor_msgs/ImuLite", IMU_DEF),
    }
    # caller-supplied defs override embedded ones
    override = {"sensor_msgs/ImuLite": IMU_DEF + "# override\n"}
    conns2 = {
        c.datatype: c.msg_def
        for c in connections_df(
            spark, open_bag(db3_bag_embedded, override).conn_rows
        ).collect()
    }
    assert conns2["sensor_msgs/ImuLite"].endswith("# override\n")
    assert conns2["geometry_msgs/PoseLite"] == POSE_DEF


def test_convert_bag_rosbag2_self_describing(spark, db3_bag_embedded, tmp_path):
    """The positive twin of test_convert_bag_rosbag2_requires_msgdefs: a
    v4 bag converts with msgdefs=None — schema travels in the container
    (the reference property, README.md:116-117)."""
    from rosbag2parquet_spark.convert import convert_bag

    out = str(tmp_path / "out_v4")
    info = convert_bag(spark, db3_bag_embedded, out)
    assert info.count == 40
    pose = spark.read.parquet(out + "/geometry_msgs_PoseLite")
    assert pose.count() == 20
    r = pose.orderBy("seqno").first()
    assert r.header_frame_id == "map" and r.label == "wp0"


def _vector_tier(root, deftext, payloads, arrays="skip", unsigned="signed"):
    from rosbag2parquet_spark.sources.decode import (
        make_vector_decoder,
        variable_layout,
    )

    specs = parse_msgdef(root, deftext)
    ops = variable_layout(specs=specs, root_type=root, arrays=arrays,
                          unsigned=unsigned, serialization="cdr")
    assert ops is not None, "expected the vector tier to engage"
    return make_vector_decoder(ops, serialization="cdr")(payloads)


def _row_tier(root, deftext, payloads, arrays="skip", unsigned="signed"):
    specs = parse_msgdef(root, deftext)
    flat = to_struct_type(root, specs, arrays=arrays, unsigned=unsigned)
    dec = make_decoder(root, specs, arrays=arrays, unsigned=unsigned,
                       serialization="cdr")
    names = [f.name for f in flat.fields]
    rows = [dec(p) for p in payloads]
    return {n: [r[i] for r in rows] for i, n in enumerate(names)}


def _assert_tiers_agree(vec, row):
    import numpy as np

    # vec is keyed by the walker's ORIGINAL field names, row by the
    # sanitized schema names (msgdef._sanitize_flat_names, e.g. a blob
    # field named `data` → `data_`); the walk order is identical, so
    # compare positionally — the same remap the shared decode driver does
    assert len(vec) == len(row)
    for (kv, gv), (k, wv) in zip(vec.items(), row.items()):
        assert k == kv or k.rstrip("_") == kv, (k, kv)
        got = [list(v) if isinstance(v, np.ndarray) else v for v in list(gv)]
        want = [list(v) if isinstance(v, (list, np.ndarray)) else v for v in wv]
        # numpy scalars compare fine via ==; normalize bytes
        got = [bytes(g) if isinstance(g, (bytes, bytearray)) else g for g in got]
        want = [bytes(w) if isinstance(w, (bytes, bytearray)) else w for w in want]
        assert got == want, k


def test_cdr_vector_tier_strings_alignment():
    """Strings of every length 0..5 — the alignment-after-string case that
    makes CDR offsets per-row-variable — must agree with the per-row walk
    bit-for-bit."""
    payloads = [
        encode_pose(i, 2 * i, 3 * i, "f" * (i % 6), i * 0.5, -i, i % 5,
                    "l" * ((i * 3) % 7))
        for i in range(50)
    ]
    vec = _vector_tier("geometry_msgs/PoseLite", POSE_DEF, payloads)
    row = _row_tier("geometry_msgs/PoseLite", POSE_DEF, payloads)
    _assert_tiers_agree(vec, row)


def test_cdr_vector_tier_rejects_big_endian():
    """The vector tier must refuse non-LE encapsulation like the per-row
    tier does (decode(): buf[1] in (0x01, 0x03)) — a BE payload decoding
    to garbage through the LE views would be a silent-corruption path."""
    good = [encode_pose(i, i, i, "a", 0.5, 1, 2, "b") for i in range(5)]
    be = bytearray(good[2])
    be[1] = 0x00  # CDR_BE representation identifier
    payloads = good[:2] + [bytes(be)] + good[3:]
    with pytest.raises(ValueError, match="little-endian"):
        _vector_tier("geometry_msgs/PoseLite", POSE_DEF, payloads)
    short = good[:1] + [b"\x00\x01"]
    with pytest.raises(ValueError, match="encapsulation"):
        _vector_tier("geometry_msgs/PoseLite", POSE_DEF, short)


def test_cdr_vector_tier_native_arrays():
    payloads = [encode_imu(i, (0.1 * i, -0.2 * i, 9.81), "b" * (i % 4))
                for i in range(30)]
    for mode in ("skip", "native"):
        vec = _vector_tier("sensor_msgs/ImuLite", IMU_DEF, payloads, arrays=mode)
        row = _row_tier("sensor_msgs/ImuLite", IMU_DEF, payloads, arrays=mode)
        _assert_tiers_agree(vec, row)


BLOB_DEF = """uint32 seq
string frame_id
string format
uint8[] data
int16 tail
"""


def encode_blobmsg(seq, frame, fmt, blob, tail):
    buf = bytearray(CDR_LE_HEADER)
    buf.extend(struct.pack("<I", seq))
    _cdr_string(buf, frame)
    _cdr_string(buf, fmt)
    _align(buf, 4)
    buf.extend(struct.pack("<I", len(blob)))
    buf.extend(blob)
    _align(buf, 2)
    buf.extend(struct.pack("<h", tail))
    return bytes(buf)


def test_cdr_vector_tier_blobs():
    """uint8[] blob extraction (multimodal mode) + a post-blob aligned
    scalar — the CompressedImage shape the converter benches."""
    payloads = [
        encode_blobmsg(i, "cam", "jpeg", bytes(range(256)) * (i % 3),
                       i - 100)
        for i in range(40)
    ]
    for mode in ("blobs", "native"):
        vec = _vector_tier("sensor_msgs/BlobMsg", BLOB_DEF, payloads, arrays=mode)
        row = _row_tier("sensor_msgs/BlobMsg", BLOB_DEF, payloads, arrays=mode)
        _assert_tiers_agree(vec, row)
    # skip mode drops the blob but must still re-align past it correctly
    vec = _vector_tier("sensor_msgs/BlobMsg", BLOB_DEF, payloads, arrays="skip")
    row = _row_tier("sensor_msgs/BlobMsg", BLOB_DEF, payloads, arrays="skip")
    _assert_tiers_agree(vec, row)


def test_cdr_vector_tier_distributed_matches(spark, db3_bag):
    """The wired decode_messages(serialization='cdr') path (which now picks the vector tier
    for PoseLite — strings make it variable) must still match the golden
    values end-to-end."""
    msgs = read_messages(spark, db3_bag, num_partitions=3)
    pose = msgs.filter(F.col("conn_id") == 1)
    flat = decode_messages(
        pose, "geometry_msgs/PoseLite", POSE_DEF, serialization="cdr"
    ).orderBy("offset")
    rows = flat.collect()
    assert len(rows) == 20
    assert rows[3].x == 6 * 1.5 and rows[3].label == "wp6"
    assert rows[0].header_frame_id == "map"


def test_cdr_vector_tier_rejects_string_arrays():
    from rosbag2parquet_spark.sources.decode import variable_layout

    d = "string[] names\nuint32 n\n"
    specs = parse_msgdef("x/StrArr", d)
    assert variable_layout(
        "x/StrArr", specs, arrays="native", serialization="cdr"
    ) is None


# ----------------------------------------------- multi-shard directories


def _make_shard(path, msgs, with_defs=True, first_topic_id=1):
    """A v4 shard with POSE/IMU topics; msgs = list of (topic_key, i)."""
    con = sqlite3.connect(path)
    con.execute(
        "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT,"
        " serialization_format TEXT, offered_qos_profiles TEXT)"
    )
    con.execute(
        "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER,"
        " timestamp INTEGER, data BLOB)"
    )
    if with_defs:
        con.execute(
            "CREATE TABLE message_definitions(id INTEGER PRIMARY KEY,"
            " topic_type TEXT, encoding TEXT,"
            " encoded_message_definition TEXT, type_description_hash TEXT)"
        )
        con.execute(
            "INSERT INTO message_definitions VALUES"
            " (1, 'geometry_msgs/PoseLite', 'ros2msg', ?, '')",
            (POSE_DEF,),
        )
    con.execute(
        "INSERT INTO topics VALUES"
        f" ({first_topic_id}, '/pose', 'geometry_msgs/PoseLite', 'cdr', '')"
    )
    t0 = 1_700_000_000_000_000_000
    con.executemany(
        "INSERT INTO messages VALUES (?,?,?,?)",
        [
            (None, first_topic_id, t0 + i * 1_000_000,
             encode_pose(i, i, 0, "map", float(i), 0.0, 0, f"m{i}"))
            for i in msgs
        ],
    )
    con.commit()
    con.close()


@pytest.fixture()
def rosbag2_dir(tmp_path):
    """A recorded rosbag2 directory: metadata.yaml + two shards whose
    MANIFEST order ('part_b' then 'part_a') differs from alphabetical —
    the stream order must follow the manifest."""
    d = tmp_path / "recorded_bag"
    d.mkdir()
    _make_shard(str(d / "part_b.db3"), range(0, 10))     # first in time
    _make_shard(str(d / "part_a.db3"), range(10, 25))    # second in time
    (d / "metadata.yaml").write_text(
        "rosbag2_bagfile_information:\n"
        "  version: 5\n"
        "  storage_identifier: sqlite3\n"
        "  relative_file_paths:\n"
        "    - part_b.db3\n"
        "    - part_a.db3\n"
        "  message_count: 25\n"
    )
    return str(d)


def test_dir_shards_manifest_order(rosbag2_dir):
    from rosbag2parquet_spark.sources.rosbag2 import rosbag2_dir_shards

    shards = rosbag2_dir_shards(rosbag2_dir)
    assert [os.path.basename(s) for s in shards] == [
        "part_b.db3", "part_a.db3",
    ]
    # a plain directory is not a rosbag2 recording
    assert rosbag2_dir_shards(os.path.dirname(rosbag2_dir)) is None


def test_convert_rosbag2_directory(spark, rosbag2_dir, tmp_path):
    """convert_bag on the DIRECTORY: shards union in manifest order with
    continuous seqno, embedded defs resolve per shard, one Connections
    row (same identity in both shards reconciles)."""
    from rosbag2parquet_spark.convert import convert_bag

    out = str(tmp_path / "out_dir")
    info = convert_bag(spark, rosbag2_dir, out)
    assert info.count == 25
    pose = spark.read.parquet(out + "/geometry_msgs_PoseLite")
    rows = pose.orderBy("seqno").collect()
    assert len(rows) == 25
    # manifest order: part_b's messages (labels m0..m9) come FIRST even
    # though part_a sorts first alphabetically
    assert [r.label for r in rows[:3]] == ["m0", "m1", "m2"]
    assert rows[10].label == "m10" and rows[24].label == "m24"
    assert [r.seqno for r in rows] == list(range(25))
    conns = spark.read.parquet(out + "/Connections").collect()
    assert len(conns) == 1 and conns[0].datatype == "geometry_msgs/PoseLite"


def test_convert_rosbag2_directory_forwards_on_error(spark, rosbag2_dir, tmp_path):
    """convert_bag(directory, on_error='permissive') must FORWARD the mode
    to the shard fleet: a poisoned payload fails strict conversion but
    survives permissive as a dead-letter row (the API path previously
    dropped on_error and silently reverted to fail)."""
    import sqlite3

    from rosbag2parquet_spark.convert import convert_bag

    shard = os.path.join(rosbag2_dir, "part_a.db3")
    con = sqlite3.connect(shard)
    con.execute(
        "UPDATE messages SET data = ? WHERE id = "
        "(SELECT id FROM messages ORDER BY timestamp LIMIT 1)",
        (CDR_LE_HEADER + b"\x01\x02",),  # truncated CDR body
    )
    con.commit()
    con.close()
    with pytest.raises(Exception):
        convert_bag(spark, rosbag2_dir, str(tmp_path / "strict_dir"))
    out = str(tmp_path / "perm_dir")
    info = convert_bag(spark, rosbag2_dir, out, on_error="permissive")
    assert info.count == 25
    pose = spark.read.parquet(out + "/geometry_msgs_PoseLite")
    bad = pose.filter(pose._decode_error.isNotNull()).collect()
    assert len(bad) == 1 and bad[0].label is None


def test_mcap_fleet_converts(spark, tmp_path):
    """Two MCAP files fleet into one layout with continuous seqno —
    grammar #4 through the same remap machinery."""
    from rosbag2parquet_spark.convert import convert_bags
    from rosbag2parquet_spark.sources.baglike import ConnectionInfo
    from rosbag2parquet_spark.sources.mcap import write_mcap

    conns = [ConnectionInfo(1, "/pose", "geometry_msgs/PoseLite", "", POSE_DEF)]
    t0 = 1_700_000_000_000_000_000
    paths = []
    for b in range(2):
        p = str(tmp_path / f"m{b}.mcap")
        msgs = [
            (1, t0 + (b * 20 + i) * 1_000_000,
             encode_pose(b * 20 + i, i, 0, "map", float(i), 0.0, 0,
                         f"b{b}_{i}"))
            for i in range(20)
        ]
        write_mcap(p, conns, msgs, encoding="cdr", schema_encoding="ros2msg",
                   chunk_messages=7)
        paths.append(p)
    out = str(tmp_path / "fleet_out")
    info = convert_bags(spark, paths, out)
    assert info.count == 40
    rows = (
        spark.read.parquet(out + "/geometry_msgs_PoseLite")
        .orderBy("seqno").collect()
    )
    assert [r.seqno for r in rows] == list(range(40))
    assert rows[0].label == "b0_0" and rows[20].label == "b1_0"
    assert spark.read.parquet(out + "/Connections").count() == 1


def test_cli_converts_rosbag2_directory(spark, rosbag2_dir, tmp_path, capsys):
    """python -m rosbag2parquet_spark --input <recorded-bag-dir> — the
    manifest-ordered multi-shard conversion through the CLI, no --msgdef
    (shards are v4 self-describing)."""
    from rosbag2parquet_spark.__main__ import main

    out = str(tmp_path / "cli_out")
    rc = main(["--input", rosbag2_dir, "--outdir", out])
    assert rc == 0
    assert "25 messages" in capsys.readouterr().out
    rows = (
        spark.read.parquet(out + "/geometry_msgs_PoseLite")
        .orderBy("seqno").collect()
    )
    assert [r.label for r in rows[:2]] == ["m0", "m1"]


def test_db3_time_pushdown(spark, db3_bag):
    """start/end push a WHERE into sqlite on both the min/max probe and
    the per-task slice; results equal the unfiltered read filtered."""
    full = read_messages(spark, db3_bag, num_partitions=3)
    t0 = 1_700_000_000_000_000_000
    lo, hi = t0 + 10 * 1_000_000, t0 + 30 * 1_000_000
    got = read_messages(
        spark, db3_bag, num_partitions=3, start_ns=lo, end_ns=hi
    ).orderBy("offset").collect()
    want = (
        full.filter((full.time_ns >= lo) & (full.time_ns < hi))
        .orderBy("offset").collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 20
    assert read_messages(spark, db3_bag, start_ns=t0 + 10**15).count() == 0


def test_convert_bag_time_subset_db3(spark, db3_bag_embedded, tmp_path):
    """convert_bag's start/end over .db3 — the pushdown rides through
    load_bag; seqno renumbers contiguously over the kept rows."""
    from rosbag2parquet_spark.convert import convert_bag

    t0 = 1_700_000_000_000_000_000
    out = str(tmp_path / "sub")
    info = convert_bag(
        spark, db3_bag_embedded, out,
        start_ns=t0 + 10 * 1_000_000, end_ns=t0 + 30 * 1_000_000,
    )
    assert info.count == 20
    msgs = spark.read.parquet(out + "/Messages").orderBy("seqno").collect()
    assert [m.seqno for m in msgs] == list(range(20))


def test_db3_topic_pushdown(spark, db3_bag):
    got = read_messages(spark, db3_bag, num_partitions=3, conn_ids=[2])
    rows = got.orderBy("offset").collect()
    assert len(rows) == 20 and all(r.conn_id == 2 for r in rows)


def test_convert_bag_topics_subset_db3(spark, db3_bag_embedded, tmp_path):
    from rosbag2parquet_spark.convert import convert_bag

    out = str(tmp_path / "topics_sub")
    info = convert_bag(spark, db3_bag_embedded, out, topics=["/imu"])
    assert info.count == 20
    assert spark.read.parquet(out + "/Connections").count() == 1
    msgs = spark.read.parquet(out + "/Messages").orderBy("seqno").collect()
    assert [m.seqno for m in msgs] == list(range(20))


def test_compressed_recorded_directory_file_mode(spark, tmp_path):
    """A FILE-mode zstd-compressed recording (compression_format: zstd,
    shards *.db3.zstd — rosbag2's standard compressed output) converts
    like its uncompressed twin: shards decompress to scratch once (the
    same thing `ros2 bag play` does) and stream through the normal
    planners. Per-MESSAGE compression is refused with a clear error."""
    import pyarrow as pa

    from rosbag2parquet_spark.convert import convert_bag
    from rosbag2parquet_spark.sources.rosbag2 import rosbag2_dir_shards

    d = tmp_path / "compressed_bag"
    d.mkdir()
    plain = str(tmp_path / "plain.db3")
    _make_shard(plain, range(0, 15))
    raw = open(plain, "rb").read()
    comp = pa.CompressedOutputStream(
        str(d / "shard_0.db3.zstd"), "zstd"
    )
    comp.write(raw)
    comp.close()
    (d / "metadata.yaml").write_text(
        "rosbag2_bagfile_information:\n"
        "  version: 5\n"
        "  storage_identifier: sqlite3\n"
        "  compression_format: zstd\n"
        "  compression_mode: FILE\n"
        "  relative_file_paths:\n"
        "    - shard_0.db3.zstd\n"
        "  message_count: 15\n"
    )
    shards = rosbag2_dir_shards(str(d))
    assert len(shards) == 1 and shards[0].endswith(".db3")
    out = str(tmp_path / "out_compressed")
    info = convert_bag(spark, str(d), out)
    assert info.count == 15
    pose = spark.read.parquet(out + "/geometry_msgs_PoseLite")
    assert pose.count() == 15

    # per-MESSAGE compression: payload zstd frames normalize through the
    # scratch rewrite and convert identically
    import sqlite3 as _sq

    d2 = tmp_path / "msg_compressed_bag"
    d2.mkdir()
    msg_shard = str(d2 / "shard_0.db3")
    _make_shard(msg_shard, range(0, 15))
    con = _sq.connect(msg_shard)
    rows = con.execute("SELECT id, data FROM messages").fetchall()
    comp = pa.Codec("zstd")
    con.executemany(
        "UPDATE messages SET data = ? WHERE id = ?",
        [(comp.compress(blob, asbytes=True), rid) for rid, blob in rows],
    )
    con.commit()
    con.close()
    (d2 / "metadata.yaml").write_text(
        "rosbag2_bagfile_information:\n"
        "  version: 5\n"
        "  storage_identifier: sqlite3\n"
        "  compression_format: zstd\n"
        "  compression_mode: MESSAGE\n"
        "  relative_file_paths:\n"
        "    - shard_0.db3\n"
        "  message_count: 15\n"
    )
    out2 = str(tmp_path / "out_msg_compressed")
    info2 = convert_bag(spark, str(d2), out2)
    assert info2.count == 15
    pose2 = spark.read.parquet(out2 + "/geometry_msgs_PoseLite")
    assert pose2.count() == 15


def test_header_stamp_in_messages_cdr(spark, db3_bag, tmp_path):
    """Reference TODO #6, CDR flavor: PoseLite leads with a
    seq-then-builtin_interfaces/Time Header — its stamp lands in the
    global Messages table decoded from the blob prefix (encapsulation 4B
    + aligned uint32 seq -> stamp at byte 8); ImuLite leads with a bare
    uint32 -> NULL pair."""
    from rosbag2parquet_spark.convert import convert_bag

    out = str(tmp_path / "out_hs")
    convert_bag(spark, db3_bag, out, msgdefs=MSGDEFS)
    msgs = spark.read.parquet(out + "/Messages").orderBy("seqno").collect()
    for m in msgs:
        i = m.seqno
        if m.connection_id == 1:  # pose: encode_pose(i, 1_700_000_000+i, i*1000, ...)
            assert m.header_stamp_sec == 1_700_000_000 + i
            assert m.header_stamp_nsec == i * 1000
        else:  # imu: no leading Header
            assert m.header_stamp_sec is None
            assert m.header_stamp_nsec is None

def test_header_stamp_big_endian_cdr_yields_null(spark):
    """The Messages header-stamp prefix decode assumes little-endian CDR;
    a payload whose encapsulation declares big-endian (bytes 0-1 !=
    0x0001) must yield NULL stamps rather than byte-swapped garbage —
    Messages is written BEFORE the per-type decode runs (which refuses BE
    loudly), so this guard is the only thing standing between a BE
    payload and garbage in the global table (advisor r8). Exercised
    directly on the CASE expression the converter builds."""
    import struct
    from collections import namedtuple

    from pyspark.sql import functions as F

    from rosbag2parquet_spark.convert import _header_stamp_exprs

    Conn = namedtuple("Conn", "connection_id datatype msg_def")
    msg_def = (
        "std_msgs/Header header\nfloat64 x\n"
        + "=" * 80
        + "\nMSG: std_msgs/Header\nbuiltin_interfaces/Time stamp\n"
        "string frame_id\n"
        + "=" * 80
        + "\nMSG: builtin_interfaces/Time\nint32 sec\nuint32 nanosec\n"
    )
    conns = [Conn(0, "pkg/HdrLed", msg_def)]
    sec_sql, nsec_sql = _header_stamp_exprs(conns, "cdr")
    # stamp at byte 4 (post-encapsulation, Time leads the Header)
    body = struct.pack("<iI", 123, 456) + b"\x00" * 16
    le = b"\x00\x01\x00\x00" + body
    be = b"\x00\x00\x00\x00" + body
    pl = b"\x00\x03\x00\x00" + body  # PL_CDR_LE: little-endian too
    df = spark.createDataFrame(
        [(0, bytearray(le)), (0, bytearray(be)), (0, bytearray(pl))],
        "conn_id int, data binary",
    )
    rows = df.select(
        F.expr(sec_sql).alias("s"), F.expr(nsec_sql).alias("n")
    ).collect()
    assert (rows[0].s, rows[0].n) == (123, 456)  # LE decodes
    assert (rows[1].s, rows[1].n) == (None, None)  # BE guards to NULL
    assert (rows[2].s, rows[2].n) == (123, 456)  # PL_CDR_LE decodes
