"""msg-def → StructType compiler tests, driven by the sensor_msgs/Imu
definition the reference's golden test converts (rosbag2parquet_test.cpp:
169-197; expected flattened schema per FIXTURES.md §2). The definition text
below is the public ROS sensor_msgs/Imu + dependencies in bag-embedded
concatenated form."""

from pyspark.sql import types as T

from rosbag2parquet_spark.plans.ddl import create_table_ddl
from rosbag2parquet_spark.sources.msgdef import (
    SEPARATOR,
    parse_msgdef,
    table_name_for_type,
    table_schema,
    to_struct_type,
)

IMU_DEF = f"""
Header header
geometry_msgs/Quaternion orientation
float64[9] orientation_covariance
geometry_msgs/Vector3 angular_velocity
float64[9] angular_velocity_covariance
geometry_msgs/Vector3 linear_acceleration
float64[9] linear_acceleration_covariance
{SEPARATOR}
MSG: std_msgs/Header
uint32 seq
time stamp
string frame_id
{SEPARATOR}
MSG: geometry_msgs/Quaternion
float64 x
float64 y
float64 z
float64 w
{SEPARATOR}
MSG: geometry_msgs/Vector3
float64 x
float64 y
float64 z
"""


def test_flattened_imu_schema_parity():
    """Expected columns per FIXTURES.md §2 / reference MessageTable.cpp:
    263-303: nested structs flattened with `_`, time split into sec/nsec,
    uint32 promoted to INT32, arrays skipped."""
    specs = parse_msgdef("sensor_msgs/Imu", IMU_DEF)
    st = to_struct_type("sensor_msgs/Imu", specs, arrays="skip")
    assert [f.name for f in st.fields] == [
        "header_seq",
        "header_stamp_sec",
        "header_stamp_nsec",
        "header_frame_id",
        "orientation_x",
        "orientation_y",
        "orientation_z",
        "orientation_w",
        "angular_velocity_x",
        "angular_velocity_y",
        "angular_velocity_z",
        "linear_acceleration_x",
        "linear_acceleration_y",
        "linear_acceleration_z",
    ]
    types = {f.name: f.dataType for f in st.fields}
    assert types["header_seq"] == T.IntegerType()  # uint32 → INT32 promotion
    assert types["header_stamp_sec"] == T.IntegerType()
    assert types["header_frame_id"] == T.StringType()
    assert types["orientation_w"] == T.DoubleType()


def test_native_arrays_mode():
    """Spark-mode upgrade: arrays become ArrayType columns instead of being
    dropped (the reference couldn't, MessageTable.cpp:275-277)."""
    specs = parse_msgdef("sensor_msgs/Imu", IMU_DEF)
    st = to_struct_type("sensor_msgs/Imu", specs, arrays="native")
    types = {f.name: f.dataType for f in st.fields}
    assert types["orientation_covariance"] == T.ArrayType(T.DoubleType())


def test_uint8_array_is_binary_in_native_mode():
    """uint8[] → BinaryType (reference's string-style byte-buffer shortcut,
    MessageTable.cpp:63-67), not array<int>."""
    text = "uint8[] payload\nfloat64[] samples"
    specs = parse_msgdef("test/Blob", text)
    st = to_struct_type("test/Blob", specs, arrays="native")
    types = {f.name: f.dataType for f in st.fields}
    assert types["payload"] == T.BinaryType()
    assert types["samples"] == T.ArrayType(T.DoubleType())


def test_constants_elided():
    spec_text = "uint8 DEBUG=1\nuint8 INFO=2\nstring name\nbyte level"
    specs = parse_msgdef("diag/Status", spec_text)
    st = to_struct_type("diag/Status", specs)
    assert [f.name for f in st.fields] == ["name", "level"]
    assert st.fields[1].dataType == T.IntegerType()  # byte promoted


def test_full_table_schema_layout():
    """Per-type table layout: seqno first, then fields, then connection_id,
    then the raw blob (reference MessageTable.cpp:326-343)."""
    st = table_schema("sensor_msgs/Imu", IMU_DEF)
    names = [f.name for f in st.fields]
    assert names[0] == "seqno"
    assert names[-2:] == ["connection_id", "data"]
    assert st.fields[-1].dataType == T.BinaryType()


def test_table_name_mapping():
    assert table_name_for_type("sensor_msgs/Imu") == "sensor_msgs_Imu"


def test_ddl_from_msgdef():
    st = table_schema("sensor_msgs/Imu", IMU_DEF)
    ddl = create_table_ddl("sensor_msgs_Imu", st)
    assert "seqno BIGINT NOT NULL" in ddl
    assert "header_frame_id VARCHAR NOT NULL" in ddl
    assert "data VARBINARY NOT NULL" in ddl


def test_unsigned_exact_mode(spark):
    """unsigned='exact' reads uint32 past 2^31 correctly in ALL THREE decode
    tiers; the default keeps the reference's signed-bits relaxation."""
    import struct

    from pyspark.sql import Row

    from rosbag2parquet_spark.sources.decode import decode_messages

    big = 3_000_000_000  # > 2^31
    expected_signed = big - (1 << 32)  # raw bits as int32

    cases = [
        # (msgdef, payload, colname) — fixed-stride / offset-scan / per-row
        ("uint32 a\nint32 b", struct.pack("<Ii", big, -5), "a"),
        (
            "uint32 a\nstring s",
            struct.pack("<I", big) + struct.pack("<I", 2) + b"hi",
            "a",
        ),
        (
            "uint32 a\nstring[] ss",
            struct.pack("<I", big)
            + struct.pack("<I", 1)
            + struct.pack("<I", 2)
            + b"hi",
            "a",
        ),
    ]
    for msgdef, payload, col in cases:
        df = spark.createDataFrame(
            [Row(offset=0, time_ns=1, conn_id=1, data=bytearray(payload))]
        )
        exact = decode_messages(df, "demo/T", msgdef, unsigned="exact")
        assert exact.schema[col].dataType.simpleString() == "bigint", msgdef
        assert exact.collect()[0][col] == big, msgdef
        parity = decode_messages(df, "demo/T", msgdef)
        assert parity.collect()[0][col] == expected_signed, msgdef


def test_unsigned_exact_uint64_decimal(spark):
    """unsigned='exact' promotes uint64 SCALARS to DECIMAL(20,0) so a
    counter above 2^63 round-trips exactly (the reference's signedness
    bug, rosbag2parquet.cpp:36, closed completely) — in ALL THREE ROS 1
    decode tiers; the default keeps the signed relaxation; since r8
    uint64 ARRAY elements promote the same way in exact mode."""
    import struct

    from pyspark.sql import Row

    from rosbag2parquet_spark.sources.decode import decode_messages

    big = (1 << 63) + 12345  # > int64 max
    expected_signed = big - (1 << 64)

    cases = [
        # fixed-stride / offset-scan (string forces it) / per-row (string[])
        ("uint64 a\nint32 b", struct.pack("<Qi", big, -5), "a"),
        (
            "uint64 a\nstring s",
            struct.pack("<Q", big) + struct.pack("<I", 2) + b"hi",
            "a",
        ),
        (
            "uint64 a\nstring[] ss",
            struct.pack("<Q", big)
            + struct.pack("<I", 1)
            + struct.pack("<I", 2)
            + b"hi",
            "a",
        ),
    ]
    for msgdef, payload, col in cases:
        df = spark.createDataFrame(
            [Row(offset=0, time_ns=1, conn_id=1, data=bytearray(payload))]
        )
        exact = decode_messages(df, "demo/T", msgdef, unsigned="exact")
        assert exact.schema[col].dataType.simpleString() == "decimal(20,0)", msgdef
        assert int(exact.collect()[0][col]) == big, msgdef
        parity = decode_messages(df, "demo/T", msgdef)
        assert parity.schema[col].dataType.simpleString() == "bigint", msgdef
        assert parity.collect()[0][col] == expected_signed, msgdef

    # array elements promote to DECIMAL(20,0) in exact mode too (r8):
    # variable uint64[] rides the offset-scan tier; adding string[] forces
    # the per-row tier — both must agree with the unsigned ground truth
    arr_payload = struct.pack("<I", 2) + struct.pack("<QQ", big, 7)
    perrow_payload = (
        arr_payload + struct.pack("<I", 1) + struct.pack("<I", 2) + b"hi"
    )
    for msgdef, payload in [
        ("uint64[] xs", arr_payload),
        ("uint64[] xs\nstring[] ss", perrow_payload),
    ]:
        df = spark.createDataFrame(
            [Row(offset=0, time_ns=1, conn_id=1, data=bytearray(payload))]
        )
        got = decode_messages(
            df, "demo/T", msgdef, arrays="native", unsigned="exact"
        )
        assert (
            got.schema["xs"].dataType.simpleString() == "array<decimal(20,0)>"
        ), msgdef
        assert [int(x) for x in got.collect()[0]["xs"]] == [big, 7], msgdef
        # the default keeps the signed relaxation for parity
        parity = decode_messages(df, "demo/T", msgdef, arrays="native")
        assert parity.schema["xs"].dataType.simpleString() == "array<bigint>"
        assert list(parity.collect()[0]["xs"]) == [expected_signed, 7]


def test_unsigned_exact_uint64_array_cdr(spark):
    """CDR repeated-uint64 exact mode across all three tiers: a FIXED
    uint64[2] with no variable field rides the fixed-stride structured
    dtype (subarray column), a variable sequence rides the offset scan,
    and string[] forces the per-row walk — every tier must deliver
    DECIMAL(20,0) elements carrying the >2^63 value exactly."""
    import struct

    from pyspark.sql import Row

    from rosbag2parquet_spark.sources.decode import decode_messages

    big = (1 << 63) + 424242
    enc = b"\x00\x01\x00\x00"

    def s(v: str) -> bytes:
        b = v.encode() + b"\x00"
        return struct.pack("<I", len(b)) + b

    cases = [
        # fixed-stride: bounded array, fixed size overall
        ("uint64[2] xs", enc + struct.pack("<QQ", big, 7)),
        # offset-scan: variable sequence (length prefix, 8-aligned payload)
        (
            "uint64[] xs",
            enc + struct.pack("<I", 2) + b"\x00" * 4 + struct.pack("<QQ", big, 7),
        ),
        # per-row: string[] alongside
        (
            "uint64[] xs\nstring[] ss",
            enc
            + struct.pack("<I", 2)
            + b"\x00" * 4
            + struct.pack("<QQ", big, 7)
            + struct.pack("<I", 1)
            + s("hi"),
        ),
    ]
    for msgdef, payload in cases:
        df = spark.createDataFrame(
            [Row(offset=0, time_ns=1, conn_id=1, data=bytearray(payload))]
        )
        got = decode_messages(
            df, "demo/T", msgdef, arrays="native", unsigned="exact",
            serialization="cdr",
        )
        assert (
            got.schema["xs"].dataType.simpleString() == "array<decimal(20,0)>"
        ), msgdef
        assert [int(x) for x in got.collect()[0]["xs"]] == [big, 7], msgdef
        parity = decode_messages(
            df, "demo/T", msgdef, arrays="native", serialization="cdr"
        )
        assert parity.schema["xs"].dataType.simpleString() == "array<bigint>"
        assert list(parity.collect()[0]["xs"]) == [big - (1 << 64), 7]


def test_unsigned_exact_uint64_decimal_cdr(spark):
    """The CDR twin: uint64 > 2^63 round-trips as DECIMAL(20,0) in exact
    mode through fixed-stride, offset-scan, and per-row CDR tiers."""
    import struct

    from pyspark.sql import Row

    from rosbag2parquet_spark.sources.decode import decode_messages

    big = (1 << 63) + 98765
    enc = b"\x00\x01\x00\x00"  # CDR_LE encapsulation

    def s(v: str) -> bytes:
        b = v.encode() + b"\x00"
        return struct.pack("<I", len(b)) + b

    cases = [
        ("uint64 a\nint32 b", enc + struct.pack("<Qi", big, -5), "a"),
        ("uint64 a\nstring t", enc + struct.pack("<Q", big) + s("hi"), "a"),
        (
            "uint64 a\nstring[] ss",
            enc + struct.pack("<Q", big) + struct.pack("<I", 1) + s("hi"),
            "a",
        ),
    ]
    for msgdef, payload, col in cases:
        df = spark.createDataFrame(
            [Row(offset=0, time_ns=1, conn_id=1, data=bytearray(payload))]
        )
        exact = decode_messages(
            df, "demo/T", msgdef, unsigned="exact", serialization="cdr"
        )
        assert exact.schema[col].dataType.simpleString() == "decimal(20,0)", msgdef
        assert int(exact.collect()[0][col]) == big, msgdef
        parity = decode_messages(df, "demo/T", msgdef, serialization="cdr")
        assert parity.collect()[0][col] == big - (1 << 64), msgdef


def test_native_arrays_decode(spark):
    """arrays='native': scalar-element arrays become real ArrayType COLUMNS
    (the upgrade the reference explicitly couldn't do, README.md:126) — in
    the offset-scan tier (vectorized reshape / per-row view) and the
    per-row fallback (string[] present); uint8[] stays a byte buffer and
    time[]/struct[] stay skipped."""
    import struct

    from pyspark.sql import Row

    from rosbag2parquet_spark.sources.decode import decode_messages

    msgdef = "float64[3] cov\nfloat32[] xs\nstring name\nuint8[] blob\ntime[] ts"
    payload = (
        struct.pack("<3d", 1.0, 2.0, 3.0)
        + struct.pack("<I", 2)
        + struct.pack("<2f", 0.5, 1.5)
        + struct.pack("<I", 2)
        + b"hi"
        + struct.pack("<I", 3)
        + b"\x01\x02\x03"
        + struct.pack("<I", 1)
        + struct.pack("<ii", 5, 6)
    )
    df = spark.createDataFrame(
        [Row(offset=0, time_ns=1, conn_id=1, data=bytearray(payload))]
    )
    out = decode_messages(df, "demo/T", msgdef, arrays="native")
    r = out.collect()[0]
    assert r.cov == [1.0, 2.0, 3.0]
    assert r.xs == [0.5, 1.5]
    assert bytes(r.blob) == b"\x01\x02\x03"
    assert "ts" not in out.columns  # time arrays stay skipped

    msgdef2 = "float64[2] cov\nstring[] ss"
    payload2 = (
        struct.pack("<2d", 9.0, 8.0)
        + struct.pack("<I", 2)
        + struct.pack("<I", 1)
        + b"a"
        + struct.pack("<I", 2)
        + b"bc"
    )
    df2 = spark.createDataFrame(
        [Row(offset=0, time_ns=1, conn_id=1, data=bytearray(payload2))]
    )
    r2 = decode_messages(df2, "demo/T2", msgdef2, arrays="native").collect()[0]
    assert r2.cov == [9.0, 8.0] and r2.ss == ["a", "bc"]
