"""Golden bag-source test — the shape of the reference's
``two_messages_test`` (rosbag2parquet_test.cpp:160-303) on the real binary
path: write a 2-message Imu-shaped bag with known values → read through the
custom Python DataSource → schema-driven decode → assert flattened values,
ordering, and full-buffer consumption."""

import struct

import pytest
from pyspark.sql import functions as F

from rosbag2parquet_spark.sources.baglike import ConnectionInfo, write_bag
from rosbag2parquet_spark.sources.container import (
    connections_df,
    open_bag,
    read_messages,
)
from rosbag2parquet_spark.sources.decode import decode_messages, make_decoder
from rosbag2parquet_spark.sources.msgdef import parse_msgdef
from tests.test_msgdef import IMU_DEF


def _imu_payload(
    seq: int, stamp: tuple, frame_id: str, quat: tuple, angvel: tuple, linacc: tuple
) -> bytes:
    """Serialize sensor_msgs/Imu little-endian, matching the ROS wire
    layout the decoder expects (header, quaternion, 3 float64[9]
    covariance arrays interleaved with the vectors)."""
    b = struct.pack("<I", seq)
    b += struct.pack("<II", *stamp)
    fid = frame_id.encode()
    b += struct.pack("<I", len(fid)) + fid
    b += struct.pack("<4d", *quat)            # orientation
    b += struct.pack("<9d", *range(9))        # orientation_covariance (skipped)
    b += struct.pack("<3d", *angvel)          # angular_velocity
    b += struct.pack("<9d", *range(9))        # angular_velocity_covariance
    b += struct.pack("<3d", *linacc)          # linear_acceleration
    b += struct.pack("<9d", *range(9))        # linear_acceleration_covariance
    return b


# reference test values (rosbag2parquet_test.cpp:169-197 / FIXTURES.md §1)
SEQ, STAMP, FRAME = 42, (1, 2), "test_frame"
QUAT = (0.0, 0.0, 0.0, 0.44)
ANGVEL = (0.1, 0.0, 0.0)
LINACC = (0.0, 0.0, 9.81)


@pytest.fixture(scope="module")
def bag_path(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bags") / "two_messages.sbag")
    payload = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    write_bag(
        path,
        [
            ConnectionInfo(
                conn_id=7,
                topic="test_topic",
                datatype="sensor_msgs/Imu",
                md5sum="abc123",
                msg_def=IMU_DEF,
            )
        ],
        [(7, 3_000_000_004, payload), (7, 5_000_000_006, payload)],
    )
    return path


def test_bag_scan_rows_and_order(spark, bag_path):
    """Source returns every message with stable offsets (bag order)."""
    df = read_messages(spark, bag_path, num_partitions=2)
    rows = df.orderBy("offset").collect()
    assert len(rows) == 2
    assert rows[0].time_ns == 3_000_000_004 and rows[1].time_ns == 5_000_000_006
    assert rows[0].conn_id == rows[1].conn_id == 7
    assert rows[0].offset < rows[1].offset


def test_connections_header_round_trip(spark, bag_path):
    """Connections metadata round-trips (ref test :229-244)."""
    conns = connections_df(spark, open_bag(bag_path).conn_rows).collect()
    assert len(conns) == 1
    c = conns[0]
    assert (c.connection_id, c.topic, c.datatype, c.md5sum) == (
        7, "test_topic", "sensor_msgs/Imu", "abc123",
    )
    assert "orientation" in c.msg_def


def test_decode_flattened_values(spark, bag_path):
    """The golden value assertions (ref test :283-301): header_seq,
    frame_id, stamp pair, orientation_w, angular_velocity_x — through the
    full distributed pipeline (DataSource scan → mapInPandas decode)."""
    msgs = read_messages(spark, bag_path, num_partitions=2)
    conns = connections_df(spark, open_bag(bag_path).conn_rows).collect()[0]
    flat = decode_messages(msgs, conns.datatype, conns.msg_def)
    rows = flat.orderBy("offset").collect()
    assert len(rows) == 2
    for r in rows:
        assert r.header_seq == SEQ
        assert (r.header_stamp_sec, r.header_stamp_nsec) == STAMP
        assert r.header_frame_id == FRAME
        assert r.orientation_w == pytest.approx(0.44)
        assert r.angular_velocity_x == pytest.approx(0.1)
        assert r.linear_acceleration_z == pytest.approx(9.81)
    # covariance arrays were skipped (parity: reference MessageTable.cpp:275-277)
    assert "orientation_covariance" not in flat.columns


def test_decoder_asserts_full_consumption(bag_path):
    """Truncated/overlong buffers fail loudly (ref assert, MessageTable.cpp:38)."""
    specs = parse_msgdef("sensor_msgs/Imu", IMU_DEF)
    decode = make_decoder("sensor_msgs/Imu", specs)
    good = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    decode(good)
    with pytest.raises((ValueError, struct.error)):
        decode(good[:-8])
    with pytest.raises(ValueError):
        decode(good + b"\x00")


def test_partitioned_scan_consistency(spark, bag_path):
    """Different partition counts must yield identical content — byte-range
    splitting at record boundaries is exact."""
    a = read_messages(spark, bag_path, num_partitions=1).collect()
    b = read_messages(spark, bag_path, num_partitions=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_bag_to_parquet_end_to_end(spark, bag_path, tmp_path):
    """Full converter over the bag source: seqno by offset rank, per-type
    SNAPPY parquet out — the reference's whole program on the real binary
    path."""
    from rosbag2parquet_spark.convert import convert

    msgs = read_messages(spark, bag_path)
    conns = connections_df(spark, open_bag(bag_path).conn_rows)
    stream = (
        msgs.join(F.broadcast(conns), msgs.conn_id == conns.connection_id)
        .select(
            F.col("offset").alias("event_id"),
            F.timestamp_micros(F.expr("time_ns div 1000")).alias("ts"),
            F.col("conn_id").alias("user_id"),
            F.col("datatype").alias("event_type"),
            F.length("data").cast("double").alias("value"),
            F.col("data").cast("string").alias("props"),
        )
    )
    info = convert(spark, stream, str(tmp_path / "bagout"), order_cols=["event_id"])
    assert info.count == 2
    import os

    assert os.path.isdir(str(tmp_path / "bagout" / "pertype" / "datatype=sensor_msgs%2FImu")) or any(
        d.startswith("datatype=") for d in os.listdir(str(tmp_path / "bagout" / "pertype"))
    )


def test_empty_bag_yields_zero_rows(spark, tmp_path):
    """Header-only bag (no messages) → empty DataFrame, not a partition
    error (regression: range step 0 when the offset index is empty)."""
    path = str(tmp_path / "empty.sbag")
    write_bag(path, [ConnectionInfo(1, "/t", "demo/Reading", "m5", "uint32 x")], [])
    assert read_messages(spark, path).count() == 0


def test_bag_info_rollup(spark, bag_path):
    """The `rosbag info` companion (reference rosbag_example.cpp:37-72):
    per-topic stats with per-type and global rollup rows."""
    from rosbag2parquet_spark.info import bag_info

    rows = {(r.datatype, r.topic): r for r in bag_info(spark, bag_path).collect()}
    total = rows[("<all>", "<all>")]
    per_topic = rows[("sensor_msgs/Imu", "/topic" if ("sensor_msgs/Imu", "/topic") in rows else "test_topic")]
    assert total.n_msgs == 2
    assert per_topic.n_msgs == 2
    assert total.total_bytes == per_topic.total_bytes > 0


def test_decoder_variable_struct_array_skip():
    """Variable-length arrays of nested structs are skipped positionally —
    the recursive skip path (reference RemoveArray, MessageTable.cpp:364-391)."""
    from rosbag2parquet_spark.sources.decode import make_decoder
    from rosbag2parquet_spark.sources.msgdef import SEPARATOR, parse_msgdef

    d = (
        "uint32 n\npoint/P[] pts\nfloat64 tail\n"
        + SEPARATOR
        + "\nMSG: point/P\nfloat32 x\nfloat32 y\n"
    )
    specs = parse_msgdef("point/Cloud", d)
    decode = make_decoder("point/Cloud", specs)
    payload = (
        struct.pack("<I", 7)
        + struct.pack("<I", 3)          # 3 array elements
        + struct.pack("<6f", *range(6))  # 3 × (x, y) — skipped
        + struct.pack("<d", 2.5)
    )
    assert decode(payload) == (7, 2.5)


def test_vectorized_decode_equals_row_loop(spark, tmp_path):
    """Fixed-stride types take the numpy frombuffer fast path; it must be
    byte-equivalent to the per-row decoder. Type: scalars + time + fixed
    array (no strings → fixed stride)."""
    from rosbag2parquet_spark.sources.decode import fixed_layout, make_decoder
    from rosbag2parquet_spark.sources.msgdef import parse_msgdef
    from rosbag2parquet_spark.sources.decode import decode_messages

    d = "uint32 seq\ntime stamp\nfloat64[3] vec\nfloat32 scale\nint16 mode"
    specs = parse_msgdef("fix/Fast", d)
    assert fixed_layout("fix/Fast", specs) is not None, "should be fixed-stride"

    def pay(i):
        return (
            struct.pack("<I", i)
            + struct.pack("<II", 100 + i, 200 + i)
            + struct.pack("<3d", i, i + 0.5, i + 0.25)
            + struct.pack("<f", i * 1.5)
            + struct.pack("<h", -i)
        )

    path = str(tmp_path / "fast.sbag")
    write_bag(
        path,
        [ConnectionInfo(1, "/t", "fix/Fast", "m", d)],
        [(1, 10 + i, pay(i)) for i in range(6)],
    )
    msgs = read_messages(spark, path, num_partitions=2)
    out = decode_messages(msgs, "fix/Fast", d).orderBy("offset").collect()
    decode = make_decoder("fix/Fast", specs)
    for i, r in enumerate(out):
        assert (r.seq, r.stamp_sec, r.stamp_nsec) == (i, 100 + i, 200 + i)
        assert r.scale == pytest.approx(i * 1.5)
        assert r.mode == -i
        assert decode(pay(i)) == (i, 100 + i, 200 + i, pytest.approx(i * 1.5), -i)
    assert "vec" not in out[0].asDict()  # fixed array skipped, as schema says


def test_string_type_falls_back_to_row_loop():
    from rosbag2parquet_spark.sources.decode import fixed_layout
    from rosbag2parquet_spark.sources.msgdef import parse_msgdef

    specs = parse_msgdef("v/S", "uint32 a\nstring s")
    assert fixed_layout("v/S", specs) is None


VAR_DEF = (
    "uint32 seq\ntime stamp\nstring name\nfloat64[2] pose\n"
    "uint8[] blob\nint32[] samples\nstring note\nfloat32 tail"
)


def _var_payload(i: int) -> bytes:
    name = f"sensor-{i}".encode()
    note = ("" if i % 3 == 0 else "x" * (i % 5)).encode()
    blob = bytes(range(i % 7))
    return (
        struct.pack("<I", i)
        + struct.pack("<II", 100 + i, 200 + i)
        + struct.pack("<I", len(name)) + name
        + struct.pack("<2d", i * 0.5, i * 0.25)
        + struct.pack("<I", len(blob)) + blob
        + struct.pack("<I", 3) + struct.pack("<3i", i, -i, i * 2)
        + struct.pack("<I", len(note)) + note
        + struct.pack("<f", i * 1.5)
    )


def test_offset_scan_decoder_equals_row_loop():
    """The vectorized offset-scan tier (strings + variable arrays) must be
    value-identical to the per-row struct.unpack walk, including empty
    strings and empty variable arrays."""
    from rosbag2parquet_spark.sources.decode import (
        fixed_layout,
        make_decoder,
        make_vector_decoder,
        variable_layout,
    )
    from rosbag2parquet_spark.sources.msgdef import parse_msgdef

    specs = parse_msgdef("v/Var", VAR_DEF)
    assert fixed_layout("v/Var", specs) is None  # strings → not fixed stride
    ops = variable_layout("v/Var", specs)
    assert ops is not None, "strings + fixed-unit var arrays are offset-scannable"

    bufs = [_var_payload(i) for i in range(50)]
    row_decode = make_decoder("v/Var", specs)
    expected = [row_decode(b) for b in bufs]
    got = make_vector_decoder(ops)(bufs)
    names = ["seq", "stamp_sec", "stamp_nsec", "name", "note", "tail"]
    assert list(got) == names
    for j, name in enumerate(names):
        col = got[name]
        vals = [col[i] for i in range(len(bufs))]
        exp = [e[j] for e in expected]
        assert vals == pytest.approx(exp) if name == "tail" else vals == exp


def test_offset_scan_decoder_rejects_truncation():
    from rosbag2parquet_spark.sources.decode import (
        make_vector_decoder,
        variable_layout,
    )
    from rosbag2parquet_spark.sources.msgdef import parse_msgdef

    specs = parse_msgdef("v/Var", VAR_DEF)
    dec = make_vector_decoder(variable_layout("v/Var", specs))
    with pytest.raises((ValueError, IndexError)):
        dec([_var_payload(3), _var_payload(4)[:-2]])


def test_string_array_still_falls_back():
    from rosbag2parquet_spark.sources.decode import variable_layout
    from rosbag2parquet_spark.sources.msgdef import parse_msgdef

    specs = parse_msgdef("v/SA", "uint32 a\nstring[] names")
    assert variable_layout("v/SA", specs) is None


def test_offset_scan_speedup_over_row_loop():
    """The vectorized tier must beat per-row struct.unpack by ≥5× on the
    reference's own representative type — sensor_msgs/Imu: string frame_id
    makes it variable-stride, covariance arrays + quaternion make the fixed
    part dominate (the shape where the reference names introspection CPU as
    its bottleneck, README.md:131-133). String-dominated tiny messages gain
    less (~2×) — the per-string object loop is inherent to both paths."""
    import time

    from rosbag2parquet_spark.sources.decode import (
        fixed_layout,
        make_decoder,
        make_vector_decoder,
        variable_layout,
    )
    from rosbag2parquet_spark.sources.msgdef import parse_msgdef
    from tests.test_msgdef import IMU_DEF

    specs = parse_msgdef("sensor_msgs/Imu", IMU_DEF)
    assert fixed_layout("sensor_msgs/Imu", specs) is None  # frame_id string
    pay = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    bufs = [pay] * 20000
    row_decode = make_decoder("sensor_msgs/Imu", specs)
    vec_decode = make_vector_decoder(variable_layout("sensor_msgs/Imu", specs))

    for _ in range(2):  # warm both paths, keep the faster-of-two rows
        t0 = time.perf_counter()
        for b in bufs:
            row_decode(b)
        t_row = time.perf_counter() - t0
    for _ in range(2):
        t0 = time.perf_counter()
        vec_decode(bufs)
        t_vec = time.perf_counter() - t0
    assert t_row / t_vec >= 5, f"speedup only {t_row / t_vec:.1f}×"


IMG_BLOB_DEF = (
    "uint32 seq\ntime stamp\nstring frame_id\nstring format\nuint8[] data"
)


def _img_payload(i: int, blob: bytes) -> bytes:
    frame, fmt = b"cam0", b"jpeg"
    return (
        struct.pack("<I", i)
        + struct.pack("<II", 10 + i, 20 + i)
        + struct.pack("<I", len(frame)) + frame
        + struct.pack("<I", len(fmt)) + fmt
        + struct.pack("<I", len(blob)) + blob
    )


def test_blob_extraction_mode(spark, tmp_path):
    """arrays='blobs': a uint8[] payload field becomes its own BinaryType
    column (the multimodal-column mode) — through the full pipeline and in
    both the per-row and offset-scan decoders, including empty blobs."""
    from rosbag2parquet_spark.sources.decode import (
        decode_messages,
        fixed_layout,
        make_decoder,
        make_vector_decoder,
        variable_layout,
    )
    from rosbag2parquet_spark.sources.msgdef import parse_msgdef, to_struct_type

    specs = parse_msgdef("sensor_msgs/CompressedImage", IMG_BLOB_DEF)
    schema = to_struct_type("sensor_msgs/CompressedImage", specs, arrays="blobs")
    # the root blob field is named `data` in the msg-def; the flat schema
    # sanitizes it to `data_` so it can never capture the table's raw
    # payload column (msgdef.RESERVED_COLUMNS)
    assert [f.name for f in schema.fields] == [
        "seq", "stamp_sec", "stamp_nsec", "frame_id", "format", "data_",
    ]
    assert schema["data_"].dataType.typeName() == "binary"

    blobs = [bytes([i] * (i * 7 % 50)) for i in range(20)]  # incl. empty
    bufs = [_img_payload(i, b) for i, b in enumerate(blobs)]

    # per-row and offset-scan tiers agree
    row_dec = make_decoder("sensor_msgs/CompressedImage", specs, arrays="blobs")
    assert [row_dec(b)[-1] for b in bufs] == blobs
    assert fixed_layout("sensor_msgs/CompressedImage", specs, arrays="blobs") is None
    ops = variable_layout("sensor_msgs/CompressedImage", specs, arrays="blobs")
    assert ops is not None
    got = make_vector_decoder(ops)(bufs)
    assert [bytes(x) for x in got["data"]] == blobs

    # full distributed pipeline over a bag: the extracted blob lands as
    # `data_` (sanitized), regardless of what the payload column is named
    path = str(tmp_path / "img.sbag")
    write_bag(
        path,
        [ConnectionInfo(1, "/cam", "sensor_msgs/CompressedImage", "m", IMG_BLOB_DEF)],
        [(1, 100 + i, bufs[i]) for i in range(len(bufs))],
    )
    msgs = read_messages(spark, path, num_partitions=2).withColumnRenamed("data", "__raw")
    out = decode_messages(
        msgs, "sensor_msgs/CompressedImage", IMG_BLOB_DEF,
        data_col="__raw", arrays="blobs",
    ).orderBy("offset").collect()
    assert [bytes(r.data_) for r in out] == blobs
    assert [r.format for r in out] == ["jpeg"] * len(blobs)


def test_truncated_sbag_fails_loudly(tmp_path):
    """Header truncation raises a clear ValueError; a message record
    claiming bytes past EOF fails at index time, not with a silent
    partial scan."""
    import struct as _struct

    import pytest as _pytest

    from rosbag2parquet_spark.sources.baglike import (
        ConnectionInfo as CI,
        _index_offsets,
        read_header,
        write_bag,
    )

    p = str(tmp_path / "t.sbag")
    write_bag(p, [CI(1, "/t", "demo/T", "m", "uint32 xyzzy")], [(1, 100, _struct.pack("<I", 5))])
    data = open(p, "rb").read()
    _, hdr_end = read_header(p)
    # 6/20: inside fixed-size fields (struct.error path); hdr_end-1 and
    # hdr_end-7: inside the TRAILING msg_def string — a short f.read(ln)
    # used to decode the partial bytes silently (ADVICE r4)
    for cut in (6, 20, hdr_end - 7, hdr_end - 1):
        q = str(tmp_path / f"h{cut}.sbag")
        open(q, "wb").write(data[:cut])
        with _pytest.raises(ValueError, match="truncated SBAG header"):
            read_header(q)
    # cut inside the message region: header parses, indexing must raise
    q = str(tmp_path / "m.sbag")
    open(q, "wb").write(data[: len(data) - 3])
    conns, start = read_header(q)
    assert len(conns) == 1
    with _pytest.raises(ValueError, match="truncated"):
        _index_offsets(q, start)
