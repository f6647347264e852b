"""Golden end-to-end conversion test — the shape of the reference's
``rosbag2parquet.two_messages_test`` (rosbag2parquet_test.cpp:160-303):
convert, then re-read the output and assert table existence, schemas, row
counts, seqno contiguity, cross-table key consistency, and blob round-trip
(FIXTURES.md §4 invariants)."""

import os

import pytest
from pyspark.sql import functions as F

from rosbag2parquet_spark.convert import convert
from rosbag2parquet_spark.sources.catalog import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def converted(spark, tmp_path_factory):
    from rosbag2parquet_spark.operators.keys import PROPS_SCHEMA

    out = str(tmp_path_factory.mktemp("convert_out"))
    events = load_table(spark, SF_DIR, "events")
    info = convert(
        spark, events, out, order_cols=["ts", "event_id"], payload_schema=PROPS_SCHEMA
    )
    return out, info, events


def test_summary_counts(converted, spark):
    out, info, events = converted
    assert info.count == events.count()  # every message converted (ref main.cpp:57-59)


def test_tables_exist_with_schema(converted, spark):
    out, _, _ = converted
    messages = spark.read.parquet(os.path.join(out, "Messages"))
    connections = spark.read.parquet(os.path.join(out, "Connections"))
    # the reference's exact Messages layout (README.md:26-32)
    assert messages.columns == [
        "seqno", "time_sec", "time_nsec", "size", "connection_id",
        "header_stamp_sec", "header_stamp_nsec", "time", "bag_index",
    ]
    assert set(connections.columns) == {
        "connection_id", "topic", "datatype", "md5sum", "msg_def", "callerid",
    }
    # one row per message / per connection (ref test :208-211, :229-231)
    assert messages.count() == 1000
    assert connections.count() == connections.select("connection_id").distinct().count()


def test_seqno_contiguous(converted, spark):
    """seqno is 0..n-1 with no gaps (ref test :213-218)."""
    out, info, _ = converted
    messages = spark.read.parquet(os.path.join(out, "Messages"))
    agg = messages.agg(
        F.min("seqno").alias("lo"),
        F.max("seqno").alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("seqno").alias("nd"),
    ).collect()[0]
    assert agg.lo == 0 and agg.hi == info.count - 1
    assert agg.n == agg.nd == info.count


def test_cross_table_key_consistency(converted, spark):
    """Messages↔Connections↔per-type FK consistency (ref test :220-222,
    :233-234, :277-281)."""
    out, _, _ = converted
    messages = spark.read.parquet(os.path.join(out, "Messages"))
    connections = spark.read.parquet(os.path.join(out, "Connections"))
    pertype = spark.read.parquet(os.path.join(out, "pertype"))
    # every message's connection_id resolves
    dangling = messages.join(
        connections, "connection_id", "left_anti"
    ).count()
    assert dangling == 0
    # per-type seqno equals Messages seqno set, with matching connection ids
    mismatch = (
        pertype.select("seqno", F.col("connection_id").alias("pt_conn"))
        .join(messages.select("seqno", "connection_id"), "seqno", "full")
        .filter(
            F.col("pt_conn").isNull()
            | F.col("connection_id").isNull()
            | (F.col("pt_conn") != F.col("connection_id"))
        )
        .count()
    )
    assert mismatch == 0


def test_pertype_partition_layout(converted, spark):
    """The demux write produces one partition dir per type (ref
    FlattenedRosWriter.cpp:273-289 routing; README.md:2-4 scan isolation)."""
    out, _, events = converted
    types = {r.event_type for r in events.select("event_type").distinct().collect()}
    dirs = {
        d.split("=", 1)[1]
        for d in os.listdir(os.path.join(out, "pertype"))
        if d.startswith("datatype=")
    }
    assert dirs == types


def test_blob_round_trip(converted, spark):
    """The raw payload survives the sink byte-for-byte and decodes back
    (ref test :262-275)."""
    out, _, events = converted
    pertype = spark.read.parquet(os.path.join(out, "pertype"))
    back = pertype.select("seqno", F.decode(F.col("data"), "utf-8").alias("props"))
    orig = events.select(
        F.col("props").alias("orig_props"),
        F.col("event_id"),
    )
    # join via seqno mapping (seqno ordered by ts,event_id) — rebuild mapping
    from rosbag2parquet_spark.operators.keys import assign_seqno

    mapped = assign_seqno(events, ["ts", "event_id"]).select("seqno", "props")
    diff = (
        back.join(mapped.withColumnRenamed("props", "orig"), "seqno")
        .filter(F.col("props") != F.col("orig"))
        .count()
    )
    assert diff == 0


def test_pertype_layout_and_flattened_payload(converted, spark):
    """Per-type table layout parity (reference MessageTable.cpp:326-343:
    seqno, flattened fields, connection_id, data — plus the r11 trailing
    bag_index provenance stamp, TODO FlattenedRosWriter.cpp:183) and S5
    flatten applied to the payload: the flattened `k` column equals the
    JSON-decoded blob."""
    out, _, _ = converted
    pertype = spark.read.parquet(os.path.join(out, "pertype"))
    cols = [c for c in pertype.columns if c != "datatype"]
    assert cols[0] == "seqno"
    assert cols[-3:] == ["connection_id", "data", "bag_index"]
    assert "k" in cols
    mismatch = pertype.filter(
        F.col("k")
        != F.get_json_object(F.decode(F.col("data"), "utf-8"), "$.k").cast("long")
    ).count()
    assert mismatch == 0


def test_ddl_script_written(converted):
    out, _, _ = converted
    ddl = open(os.path.join(out, "load_tables.sql")).read()
    assert "CREATE TABLE" in ddl
    assert "Messages" in ddl and "Connections" in ddl
    assert "seqno BIGINT NOT NULL" in ddl


def test_max_mbs_limit(spark, tmp_path):
    """Byte-bounded conversion (ref rosbag2parquet.cpp:56-58)."""
    events = load_table(spark, SF_DIR, "events")
    info = convert(
        spark, events, str(tmp_path / "lim"), max_mbs=0.001,
        order_cols=["ts", "event_id"],
    )
    assert 0 < info.count < events.count()
    assert info.size <= 0.001 * (1 << 20)


def test_append_requires_identical_schema(spark, tmp_path):
    """The md5/schema identity guard on append (reference
    FlattenedRosWriter.cpp:287): same-schema append doubles the rows;
    a schema-drifted append refuses loudly."""
    from pyspark.sql import types as T

    from rosbag2parquet_spark.operators.keys import PROPS_SCHEMA

    out = str(tmp_path / "appendable")
    events = load_table(spark, SF_DIR, "events").limit(100)
    convert(spark, events, out, order_cols=["ts", "event_id"], payload_schema=PROPS_SCHEMA)
    n1 = spark.read.parquet(os.path.join(out, "Messages")).count()

    conns1 = {
        (r.callerid, r.datatype): r.connection_id
        for r in spark.read.parquet(os.path.join(out, "Connections")).collect()
    }

    convert(
        spark, events, out, order_cols=["ts", "event_id"],
        payload_schema=PROPS_SCHEMA, mode="append",
    )
    messages = spark.read.parquet(os.path.join(out, "Messages"))
    assert messages.count() == 2 * n1
    # seqno stays unique and contiguous across appends (the reference
    # declares it unique within the output, FlattenedRosWriter.cpp:57)
    seqnos = sorted(r.seqno for r in messages.select("seqno").collect())
    assert seqnos == list(range(2 * n1))
    # re-appending the same stream adds NO dim rows and keeps every
    # existing id→key mapping (no conflicting duplicates)
    conns2 = {
        (r.callerid, r.datatype): r.connection_id
        for r in spark.read.parquet(os.path.join(out, "Connections")).collect()
    }
    assert conns2 == conns1
    assert (
        spark.read.parquet(os.path.join(out, "Connections")).count()
        == len(conns1)
    )

    drifted = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("extra", T.StringType())]
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        convert(
            spark, events, out, order_cols=["ts", "event_id"],
            payload_schema=drifted, mode="append",
        )


def test_checked_union_guards_schema():
    from rosbag2parquet_spark.convert import checked_union, schema_fingerprint
    from pyspark.sql import types as T

    a = T.StructType([T.StructField("x", T.LongType(), False)])
    b = T.StructType([T.StructField("x", T.LongType(), True)])  # nullability ≠ identity
    c = T.StructType([T.StructField("x", T.DoubleType())])
    assert schema_fingerprint(a) == schema_fingerprint(b)
    assert schema_fingerprint(a) != schema_fingerprint(c)


def test_decode_permissive_salvages_bad_rows(spark, tmp_path):
    """One corrupt payload in a batch: strict mode raises; permissive mode
    decodes the good rows and routes the bad one to NULL fields +
    _decode_error (the dead-letter behavior a 100 TB conversion needs)."""
    import struct

    import pytest as _pytest

    from rosbag2parquet_spark.sources.baglike import ConnectionInfo, write_bag
    from rosbag2parquet_spark.sources.container import read_messages
    from rosbag2parquet_spark.sources.decode import decode_messages

    deftext = "uint32 a\nstring s\n"
    good = lambda i: struct.pack("<I", i) + struct.pack("<I", 2) + b"ok"  # noqa: E731
    bad = struct.pack("<I", 7) + struct.pack("<I", 999)  # claims 999-byte string
    path = str(tmp_path / "poison.sbag")
    msgs = [(1, 1_000_000_000 + i, good(i)) for i in range(5)]
    msgs.insert(3, (1, 1_000_000_003, bad))
    write_bag(path, [ConnectionInfo(1, "/t", "demo/P", "", deftext)], msgs)
    raw = read_messages(spark, path, num_partitions=1)

    with _pytest.raises(Exception):
        decode_messages(raw, "demo/P", deftext).collect()

    rows = (
        decode_messages(raw, "demo/P", deftext, on_error="permissive")
        .orderBy("offset")
        .collect()
    )
    assert len(rows) == 6
    errs = [r for r in rows if r._decode_error is not None]
    assert len(errs) == 1 and errs[0].a is None and errs[0].s is None
    goods = [r for r in rows if r._decode_error is None]
    assert [r.s for r in goods] == ["ok"] * 5
    assert sorted(r.a for r in goods) == [0, 1, 2, 3, 4]


def test_decode_permissive_cdr(spark, tmp_path):
    """Same dead-letter behavior with the CDR wire rules."""
    import sqlite3
    import struct

    from rosbag2parquet_spark.sources.decode import decode_messages
    from rosbag2parquet_spark.sources.container import read_messages

    deftext = "uint32 a\nstring s\n"
    hdr = b"\x00\x01\x00\x00"
    good = lambda i: (  # noqa: E731
        hdr + struct.pack("<I", i) + struct.pack("<I", 3) + b"ok\x00"
    )
    bad = hdr + struct.pack("<I", 7) + struct.pack("<I", 999)
    path = str(tmp_path / "poison.db3")
    con = sqlite3.connect(path)
    con.execute(
        "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT,"
        " serialization_format TEXT, offered_qos_profiles TEXT)"
    )
    con.execute(
        "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER,"
        " timestamp INTEGER, data BLOB)"
    )
    con.execute("INSERT INTO topics VALUES (1, '/t', 'demo/P', 'cdr', '')")
    rows = [(None, 1, 10**18 + i, good(i)) for i in range(4)]
    rows.insert(2, (None, 1, 10**18 + 9, bad))
    con.executemany("INSERT INTO messages VALUES (?,?,?,?)", rows)
    con.commit()
    con.close()
    raw = read_messages(spark, path, num_partitions=1)
    out = (
        decode_messages(
            raw, "demo/P", deftext, on_error="permissive", serialization="cdr"
        )
        .orderBy("offset")
        .collect()
    )
    assert len(out) == 5
    assert sum(1 for r in out if r._decode_error is not None) == 1
    assert [r.s for r in out if r._decode_error is None] == ["ok"] * 4


def _payload_df(spark, payloads):
    """One partition of (offset, time_ns, conn_id, data) rows, so every
    payload lands in the same Arrow batch."""
    return spark.createDataFrame(
        [(i, 10**18 + i, 1, bytearray(p)) for i, p in enumerate(payloads)],
        "offset long, time_ns long, conn_id int, data binary",
    ).coalesce(1)


def test_decode_keeps_nan_in_non_nullable_field(spark):
    """A float NaN payload value is a value, not NULL: the strict decode
    of a non-nullable float64 field returns it."""
    import math
    import struct

    from rosbag2parquet_spark.sources.decode import decode_messages

    df = _payload_df(spark, [struct.pack("<dq", float("nan"), 1),
                             struct.pack("<dq", 2.5, 2)])
    out = decode_messages(df, "demo/F", "float64 x\nint64 y\n")
    assert not out.schema["x"].nullable
    rows = out.orderBy("offset").collect()
    assert math.isnan(rows[0].x) and rows[1].x == 2.5
    assert [r.y for r in rows] == [1, 2]


def test_decode_permissive_batch_keeps_exact_int64(spark):
    """A permissive batch with one dead-lettered row keeps the int64 values
    of its good rows exact (no float round trip near 2^63)."""
    import struct

    from rosbag2parquet_spark.sources.decode import decode_messages

    df = _payload_df(spark, [struct.pack("<q", -9223372036854775801), b"\x01"])
    rows = (
        decode_messages(df, "demo/I", "int64 y\n", on_error="permissive")
        .orderBy("offset")
        .collect()
    )
    assert rows[0].y == -9223372036854775801 and rows[0]._decode_error is None
    assert rows[1].y is None and rows[1]._decode_error is not None


@pytest.mark.parametrize("grammar", ["ros1", "cdr", "protobuf"])
def test_decode_rejects_unknown_on_error(spark, grammar):
    """A misspelled on_error must raise, never silently run as 'fail' —
    one check in the shared decode driver covers every payload grammar."""
    from rosbag2parquet_spark.sources.decode import decode_messages
    from rosbag2parquet_spark.sources.protobuf import (
        TYPE_INT32,
        build_fds,
        decode_messages_protobuf,
        msgdef_from_fds,
    )

    df = spark.createDataFrame(
        [(0, 1, 1, bytearray(b"\x00\x01\x00\x00\x05\x00\x00\x00"))],
        "offset long, time_ns long, conn_id int, data binary",
    )
    with pytest.raises(ValueError, match="on_error"):
        if grammar == "protobuf":
            fds = build_fds("demo", {"P": [("a", 1, TYPE_INT32)]})
            decode_messages_protobuf(
                df, "demo.P", msgdef_from_fds(fds), on_error="permisive"
            )
        else:
            decode_messages(
                df, "demo/P", "int32 a\n", on_error="permisive",
                serialization=grammar,
            )


def test_append_pads_to_older_messages_vintage(spark, tmp_path):
    """Appending into a layout converted BEFORE the trailing optional
    Messages columns existed (r8 header-stamp pair, r9 derived `time`)
    must succeed by projecting the incoming batch DOWN to the on-disk
    column set (the advisor-flagged migration path) — old files are
    immutable, so the layout keeps the older vintage's schema. A
    non-vintage difference still refuses."""
    from rosbag2parquet_spark.convert import _MESSAGES_OPTIONAL
    from rosbag2parquet_spark.operators.keys import PROPS_SCHEMA

    out = str(tmp_path / "vintage")
    events = load_table(spark, SF_DIR, "events").limit(50)
    convert(
        spark, events, out,
        order_cols=["ts", "event_id"], payload_schema=PROPS_SCHEMA,
    )
    msg_path = os.path.join(out, "Messages")
    # rewrite the layout's Messages as the PRE-r8 5-column vintage
    old = spark.read.parquet(msg_path).drop(*_MESSAGES_OPTIONAL)
    old_pdf = old.toPandas()
    import shutil

    shutil.rmtree(msg_path)
    spark.createDataFrame(old_pdf, old.schema).write.parquet(msg_path)

    convert(
        spark, events, out, order_cols=["ts", "event_id"],
        payload_schema=PROPS_SCHEMA, mode="append",
    )
    appended = spark.read.parquet(msg_path)
    assert appended.columns == [
        "seqno", "time_sec", "time_nsec", "size", "connection_id",
    ]
    assert appended.count() == 100


def test_append_guard_refuses_conflicting_file_schemas(spark, tmp_path):
    """r12 advisor: an EXTERNALLY-produced table whose files carry
    genuinely conflicting types for one column must be refused with the
    guard's structured never-silently-coerced error on the mergeSchema
    read path — not surface Spark's raw schema-merge exception."""
    import pytest

    from rosbag2parquet_spark.convert import assert_append_compatible

    out = str(tmp_path / "conflicted")
    spark.range(3).selectExpr("CAST(id AS BIGINT) AS x").write.parquet(out)
    spark.createDataFrame([("a",)], "x string").write.mode(
        "append"
    ).parquet(out)
    incoming = spark.range(1).selectExpr("CAST(id AS BIGINT) AS x").schema
    with pytest.raises(ValueError, match="never\\s+silently coerced"):
        assert_append_compatible(spark, out, incoming)
    # the evolve path reads the same schema — same structured refusal
    with pytest.raises(ValueError, match="never\\s+silently coerced"):
        assert_append_compatible(spark, out, incoming, evolve=True)


def test_publish_scratch_race_drops_loser_and_reraises_real_errors(tmp_path):
    """r12 advisor: the memoized-artifact publish must treat ONLY a lost
    race as benign (loser's work dir removed, winner's content
    untouched); any non-race OSError re-raises at the rename instead of
    surfacing later as an unrelated FileNotFoundError."""
    import pytest

    from rosbag2parquet_spark.sources.catalog import publish_scratch

    dest = tmp_path / "artifact"
    dest.mkdir()
    (dest / "winner.txt").write_text("winner")
    work = tmp_path / "work"
    work.mkdir()
    (work / "loser.txt").write_text("loser")
    publish_scratch(str(work), str(dest))  # lost race: benign
    assert not work.exists()  # loser cleaned up, not leaked
    assert (dest / "winner.txt").read_text() == "winner"
    # non-race failure (destination parent missing) re-raises
    work2 = tmp_path / "work2"
    work2.mkdir()
    with pytest.raises(OSError):
        publish_scratch(str(work2), str(tmp_path / "no_parent" / "x"))
    assert work2.exists()  # nothing silently discarded on a real error
