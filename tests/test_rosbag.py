"""Golden rosbag 2.0 test — the reference's ``two_messages_test``
(rosbag2parquet_test.cpp:160-303) against the REAL public bag grammar:
write a spec-conformant 2-message Imu bag (uncompressed and BZ2), read it
through the rosbag DataSource, decode, convert, and assert the same golden
values/keys/contiguity the reference asserts."""

import pytest
from pyspark.sql import functions as F

from rosbag2parquet_spark.sources.baglike import ConnectionInfo
from rosbag2parquet_spark.sources.decode import decode_messages
from rosbag2parquet_spark.sources.container import (
    connections_df,
    open_bag,
    read_messages,
)
from rosbag2parquet_spark.sources.rosbag import scan_rosbag, write_rosbag
from tests.test_baglike import ANGVEL, FRAME, LINACC, QUAT, SEQ, STAMP, _imu_payload
from tests.test_msgdef import IMU_DEF

CONN = ConnectionInfo(
    conn_id=3,
    topic="/imu/data",
    datatype="sensor_msgs/Imu",
    md5sum="6a62c6daae103f4ff57a132d6f95cec2",
    msg_def=IMU_DEF,
)


@pytest.fixture(scope="module", params=["none", "bz2", "lz4"])
def bag_path(request, tmp_path_factory):
    path = str(
        tmp_path_factory.mktemp("rosbags") / f"two_messages_{request.param}.bag"
    )
    payload = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    write_rosbag(
        path,
        [CONN],
        [(3, 3_000_000_004, payload), (3, 5_000_000_006, payload)],
        compression=request.param,
    )
    return path


def test_scan_connections_and_chunks(bag_path):
    conns, chunks = scan_rosbag(bag_path)
    assert len(conns) == 1 and len(chunks) == 1
    c = conns[0]
    assert (c.conn_id, c.topic, c.datatype, c.md5sum) == (
        3, "/imu/data", "sensor_msgs/Imu", CONN.md5sum,
    )
    assert "orientation" in c.msg_def


def test_messages_scan_order_and_time(spark, bag_path):
    rows = read_messages(spark, bag_path, num_partitions=2).orderBy("offset").collect()
    assert len(rows) == 2
    assert rows[0].time_ns == 3_000_000_004 and rows[1].time_ns == 5_000_000_006
    assert rows[0].conn_id == rows[1].conn_id == 3
    assert rows[0].offset < rows[1].offset


def test_golden_decode_values(spark, bag_path):
    """Reference assertions :283-301: header_seq, frame_id, stamp pair,
    orientation_w through the full distributed pipeline."""
    msgs = read_messages(spark, bag_path)
    conns = connections_df(spark, open_bag(bag_path).conn_rows).collect()[0]
    rows = decode_messages(msgs, conns.datatype, conns.msg_def).orderBy("offset").collect()
    assert len(rows) == 2
    for r in rows:
        assert r.header_seq == SEQ
        assert (r.header_stamp_sec, r.header_stamp_nsec) == STAMP
        assert r.header_frame_id == FRAME
        assert r.orientation_w == pytest.approx(0.44)
        assert r.linear_acceleration_z == pytest.approx(9.81)


def test_rosbag_to_parquet_end_to_end(spark, bag_path, tmp_path):
    """Full converter over a real bag: seqno contiguity 0,1 (ref :213-218),
    cross-table keys (ref :220-234), md5/msg_def round-trip (ref :236-244)."""
    import os

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
    out = str(tmp_path / "bagout")
    info = convert(spark, stream, out, order_cols=["event_id"])
    assert info.count == 2
    messages = spark.read.parquet(os.path.join(out, "Messages"))
    assert sorted(r.seqno for r in messages.collect()) == [0, 1]
    connections = spark.read.parquet(os.path.join(out, "Connections"))
    assert connections.count() == 1


def test_multi_chunk_partitioning(spark, tmp_path):
    """Chunks are the parallelism unit: a 10-chunk bag read with different
    partition counts yields identical content in bag order."""
    path = str(tmp_path / "many.bag")
    payload = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    write_rosbag(
        path,
        [CONN],
        [(3, 1_000_000_000 + i, payload) for i in range(50)],
        compression="bz2",
        messages_per_chunk=5,
    )
    _, chunks = scan_rosbag(path)
    assert len(chunks) == 10
    a = read_messages(spark, path, num_partitions=1).collect()
    b = read_messages(spark, path, num_partitions=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 50
    ordered = sorted(a, key=lambda r: r.offset)
    assert [r.time_ns for r in ordered] == [1_000_000_000 + i for i in range(50)]


def test_callerid_latching_roundtrip(spark, tmp_path):
    """Reference records callerid per connection (FlattenedRosWriter.cpp:
    209-224; README.md:35-42 column list) — parse, surface in the
    Connections dim, and round-trip through the test writer."""
    path = str(tmp_path / "caller.bag")
    payload = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    conn = ConnectionInfo(
        conn_id=7,
        topic="/imu/data",
        datatype="sensor_msgs/Imu",
        md5sum=CONN.md5sum,
        msg_def=IMU_DEF,
        callerid="/imu_node",
        latching="1",
    )
    write_rosbag(path, [conn], [(7, 10**9, payload)])
    conns, _ = scan_rosbag(path)
    assert (conns[0].callerid, conns[0].latching) == ("/imu_node", "1")
    row = connections_df(spark, open_bag(path).conn_rows).collect()[0]
    assert (row.callerid, row.latching) == ("/imu_node", "1")
    # absent fields stay NULL (SBAG parity: the dim schema is shared)
    write_rosbag(str(tmp_path / "nocaller.bag"), [CONN], [(3, 10**9, payload)])
    row2 = connections_df(
        spark, open_bag(str(tmp_path / "nocaller.bag")).conn_rows
    ).collect()[0]
    assert row2.callerid is None and row2.latching is None


def test_large_chunk_scan_derived_shift(spark, tmp_path):
    """A chunk decompressing past 1 MiB is spec-conformant (rosbag's chunk
    threshold is configurable) — the scan-derived shift must accept it
    (the fixed 20-bit shift hard-failed; ADVICE r2)."""
    from rosbag2parquet_spark.sources.container import offset_shift

    path = str(tmp_path / "bigchunk.bag")
    big_payload = bytes(range(256)) * 8192  # 2 MiB message
    write_rosbag(
        path,
        [CONN],
        [(3, 10**9 + i, big_payload) for i in range(3)],
        compression="bz2",
        messages_per_chunk=2,  # first chunk decompresses to >4 MiB
    )
    _, chunks = scan_rosbag(path)
    shift = offset_shift([c.size for c in chunks])
    assert shift > 20 and max(c.size for c in chunks) < (1 << shift)
    rows = read_messages(spark, path, num_partitions=2).orderBy("offset").collect()
    assert [r.time_ns for r in rows] == [10**9, 10**9 + 1, 10**9 + 2]
    assert all(len(r.data) == len(big_payload) for r in rows)


def test_unindexed_bag_connection_fallback(spark, tmp_path):
    """Crashed-recorder bag (index region missing): connections must be
    harvested from inside the chunks instead of silently yielding zero
    (which made convert_bag write orphan Messages rows; ADVICE r2)."""
    path = str(tmp_path / "unindexed.bag")
    payload = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    write_rosbag(path, [CONN], [(3, 10**9 + i, payload) for i in range(4)])
    # truncate the trailing index region (everything after the last chunk):
    # re-scan to find where chunks end, then cut the file there
    conns_full, chunks = scan_rosbag(path)
    import struct as _s

    with open(path, "rb") as f:
        f.seek(chunks[-1].pos)
        (hlen,) = _s.unpack("<I", f.read(4))
        f.seek(chunks[-1].pos + 4 + hlen)
        (dlen,) = _s.unpack("<I", f.read(4))
        end = chunks[-1].pos + 4 + hlen + 4 + dlen
        f.seek(0)
        head = f.read(end)
    with open(path, "wb") as f:
        f.write(head)
    conns, chunks2 = scan_rosbag(path)
    assert len(chunks2) == len(chunks)
    assert [c.conn_id for c in conns] == [c.conn_id for c in conns_full]
    assert conns[0].msg_def == IMU_DEF
    # a bag with chunks but NO connection records anywhere is an error,
    # not a silent empty dim
    bad = str(tmp_path / "noconn.bag")
    write_rosbag(bad, [], [])
    import rosbag2parquet_spark.sources.rosbag as rb

    raw = open(bad, "rb").read()
    # hand-append a message-only chunk with no connection record
    inner = rb._record(
        {"op": bytes([rb.OP_MSG]), "conn": _s.pack("<I", 1),
         "time": _s.pack("<II", 1, 0)},
        b"x",
    )
    chunk = rb._record(
        {"op": bytes([rb.OP_CHUNK]), "compression": b"none",
         "size": _s.pack("<I", len(inner))},
        inner,
    )
    open(bad, "wb").write(raw + chunk)
    with pytest.raises(ValueError, match="reindex"):
        scan_rosbag(bad)


def test_corrupt_magic_rejected(tmp_path):
    p = tmp_path / "bad.bag"
    p.write_bytes(b"#ROSBAG V1.2\n" + b"\x00" * 64)
    with pytest.raises(ValueError, match="not a rosbag 2.0"):
        scan_rosbag(str(p))


def test_cli_converts_real_bag(spark, tmp_path, capsys):
    """`python -m rosbag2parquet_spark --input x.bag --outdir ...` — the
    reference's main() surface over an actual rosbag 2.0 file."""
    import os

    from rosbag2parquet_spark.__main__ import main

    path = str(tmp_path / "cli.bag")
    payload = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    write_rosbag(
        path,
        [CONN],
        [(3, 10**9 + i, payload) for i in range(4)],
        compression="bz2",
    )
    out = str(tmp_path / "cliout")
    rc = main(["--input", path, "--outdir", out])
    assert rc == 0
    assert "4 messages" in capsys.readouterr().out
    msgs = spark.read.parquet(os.path.join(out, "Messages"))
    assert sorted(r.seqno for r in msgs.collect()) == [0, 1, 2, 3]


def test_cli_info_real_bag(tmp_path, capsys, spark):
    from rosbag2parquet_spark.__main__ import main

    path = str(tmp_path / "info.bag")
    payload = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    write_rosbag(path, [CONN], [(3, 10**9 + i, payload) for i in range(3)])
    assert main(["info", "--input", path]) == 0
    out = capsys.readouterr().out
    assert "TOTAL: 3 msgs" in out and "sensor_msgs/Imu" in out


def test_truncated_bag_fails_loudly(tmp_path):
    import struct
    """Every truncation point must raise a clear ValueError — never a
    silent partial scan (the reference's rosbag::View throws too)."""
    import pytest

    from rosbag2parquet_spark.sources.rosbag import scan_rosbag, write_rosbag

    p = str(tmp_path / "t.bag")
    write_rosbag(
        p,
        [ConnectionInfo(1, "/t", "demo/T", "m", "uint32 x")],
        [(1, 100, struct.pack("<I", 5))],
    )
    data = open(p, "rb").read()
    for cut in (20, 100, len(data) // 2, len(data) - 3):
        q = str(tmp_path / f"cut{cut}.bag")
        with open(q, "wb") as f:
            f.write(data[:cut])
        with pytest.raises(ValueError, match="truncated|corrupt"):
            scan_rosbag(q)


_PRUNE_CONNS = [
    ConnectionInfo(1, "/a", "demo/A", "m1", "uint32 x\n"),
    ConnectionInfo(2, "/b", "demo/B", "m2", "uint32 x\n"),
]


def test_chunk_info_stats_parsed(tmp_path):
    """The writer's ChunkInfo records surface as per-chunk pruning stats
    (time bounds + connection membership) in the scan."""
    from rosbag2parquet_spark.sources.rosbag import scan_rosbag, write_rosbag

    path = str(tmp_path / "ci.bag")
    t0 = 1_700_000_000_000_000_000
    msgs = [(1 + (i % 2), t0 + i * 1_000_000, b"x" * 8) for i in range(40)]
    write_rosbag(path, _PRUNE_CONNS, msgs, messages_per_chunk=10)
    _, chunks = scan_rosbag(path)
    assert len(chunks) == 4
    for k, c in enumerate(chunks):
        assert c.conn_ids == (1, 2)
        assert c.start_ns == t0 + k * 10 * 1_000_000
        assert c.end_ns == t0 + (k * 10 + 9) * 1_000_000


def test_rosbag_time_and_topic_pruning(spark, tmp_path):
    """start/end/conn_ids prune whole chunks from the ChunkInfo stats and
    the result equals the full read filtered after the fact."""
    from rosbag2parquet_spark.sources.container import prune
    from rosbag2parquet_spark.sources.rosbag import scan_rosbag, write_rosbag

    path = str(tmp_path / "pr.bag")
    t0 = 1_700_000_000_000_000_000
    # chunks 0-1 are conn 1 only, chunks 2-3 conn 2 only
    msgs = [(1 if i < 20 else 2, t0 + i * 1_000_000, b"y" * 8) for i in range(40)]
    write_rosbag(path, _PRUNE_CONNS, msgs, messages_per_chunk=10)
    units = open_bag(path).units
    assert len(prune(units, None, None, conn_ids=[2])) == 2
    lo, hi = t0 + 5 * 1_000_000, t0 + 15 * 1_000_000
    assert len(prune(units, lo, hi)) == 2
    got = read_messages(
        spark, path, num_partitions=2, start_ns=lo, end_ns=hi
    ).orderBy("offset").collect()
    assert len(got) == 10 and all(lo <= r.time_ns < hi for r in got)
    got2 = read_messages(spark, path, num_partitions=2, conn_ids=[2])
    assert got2.count() == 20
    full = read_messages(spark, path, num_partitions=2)
    want = full.filter(full.conn_id == 2)
    assert got2.select("time_ns", "conn_id", "data").exceptAll(
        want.select("time_ns", "conn_id", "data")
    ).count() == 0


def test_rosbag_offsets_stable_across_filters(spark, tmp_path):
    """Pruning drops chunks but never renumbers them: a filtered read's
    offsets must equal the unfiltered read's offsets for the same rows
    (the MCAP contract — seqno stays stable across filters). Catches both
    chunk_index renumbering and a shift recomputed over the pruned list."""
    from rosbag2parquet_spark.sources.rosbag import write_rosbag

    path = str(tmp_path / "stab.bag")
    t0 = 1_700_000_000_000_000_000
    msgs = [(1 + (i % 2), t0 + i * 1_000_000, b"z" * 8) for i in range(40)]
    write_rosbag(path, _PRUNE_CONNS, msgs, messages_per_chunk=10)
    full = {
        (r.time_ns, r.conn_id): r.offset
        for r in read_messages(spark, path, num_partitions=2).collect()
    }
    lo, hi = t0 + 12 * 1_000_000, t0 + 33 * 1_000_000
    filt = read_messages(
        spark, path, num_partitions=2, start_ns=lo, end_ns=hi
    ).collect()
    assert len(filt) == 21
    for r in filt:
        assert r.offset == full[(r.time_ns, r.conn_id)]
    by_conn = read_messages(spark, path, num_partitions=2, conn_ids=[2]).collect()
    assert len(by_conn) == 20
    for r in by_conn:
        assert r.offset == full[(r.time_ns, r.conn_id)]


def _two_conn_messages(n: int) -> list:
    t0 = 1_700_000_000_000_000_000
    return [
        (1 if i % 3 else 2, t0 + i * 1_000_000, bytes([i % 256]) * (1 + i % 5))
        for i in range(n)
    ]


def under_declare_chunk(path: str, k: int) -> int:
    """Lower the first per-connection count of chunk k's ChunkInfo record by
    one, in place (same record length); returns that chunk's byte position."""
    import os
    import struct

    import rosbag2parquet_spark.sources.rosbag as rb

    _, chunks = scan_rosbag(path)
    target = chunks[k].pos
    with open(path, "r+b") as f:
        pos, size = len(rb.ROSBAG_MAGIC), os.path.getsize(path)
        while pos + 8 <= size:
            fields, data_start, _dlen, nxt = rb._read_record_at(f, pos)
            if (
                fields["op"][0] == rb.OP_CHUNK_INFO
                and struct.unpack("<Q", fields["chunk_pos"])[0] == target
            ):
                f.seek(data_start + 4)
                (n,) = struct.unpack("<I", f.read(4))
                f.seek(data_start + 4)
                f.write(struct.pack("<I", n - 1))
                return target
            pos = nxt
    raise AssertionError(f"no ChunkInfo for chunk {k}")


def write_counted(path: str, container: str, msgs: list) -> None:
    """A bag whose scan units all declare counts: a rosbag (chunk codec
    ``container``) with ChunkInfo counts, an SBAG file, or an unchunked
    MCAP file."""
    from rosbag2parquet_spark.sources.baglike import write_bag
    from rosbag2parquet_spark.sources.mcap import write_mcap

    if container == "sbag":
        write_bag(path, _PRUNE_CONNS, msgs)
    elif container == "mcap":
        write_mcap(path, _PRUNE_CONNS, msgs, chunked=False, encoding="ros1",
                   schema_encoding="ros1msg")
    else:
        write_rosbag(path, _PRUNE_CONNS, msgs, compression=container,
                     messages_per_chunk=7)


def write_unindexed(path: str, msgs: list) -> None:
    """A rosbag cut after its last chunk (a crashed recorder): no index
    region, so no chunk declares a count."""
    from rosbag2parquet_spark.sources.rosbag import _read_record_at

    full = path + ".full"
    write_rosbag(full, _PRUNE_CONNS, msgs, compression="lz4", messages_per_chunk=7)
    _, chunks = scan_rosbag(full)
    with open(full, "rb") as f:
        end = _read_record_at(f, chunks[-1].pos)[3]
        f.seek(0)
        head = f.read(end)
    with open(path, "wb") as f:
        f.write(head)


_T0 = 1_700_000_000_000_000_000

#: case -> (writer, read filter); the counted cases number from declared
#: counts, the rest through the count job
SEQNO_CASES = {
    "none": ("none", {}),
    "bz2": ("bz2", {}),
    "lz4": ("lz4", {}),
    "sbag": ("sbag", {}),
    "mcap": ("mcap", {}),
    "mcap_chunked": ("mcap_chunked", {}),
    "db3": ("db3", {}),
    "unindexed": ("unindexed", {}),
    "topic": ("lz4", {"conn_ids": [2]}),
    "time": ("lz4", {"start_ns": _T0 + 9_500_000, "end_ns": _T0 + 47_000_000}),
}


@pytest.mark.parametrize("case", list(SEQNO_CASES))
def test_index_seqno_equals_assign_seqno(spark, tmp_path, monkeypatch, case):
    """The seqno the scan numbers itself with equals assign_seqno's rank of
    the offset over the same read, row for row, and covers 0..N-1, on a
    multi-unit two-connection bag: from declared counts for a rosbag under
    every chunk codec (ChunkInfo counts), SBAG and unchunked MCAP (counted
    record spans, cut at 7 records here), and from the count job for
    chunked MCAP, ``.db3``, an unindexed rosbag and topic- or
    time-filtered reads."""
    from rosbag2parquet_spark.operators.keys import assign_seqno
    from rosbag2parquet_spark.sources import container as ct
    from rosbag2parquet_spark.sources.mcap import write_mcap
    from rosbag2parquet_spark.sources.rosbag2 import write_db3

    monkeypatch.setattr(ct, "SPAN_RECORDS", 7)
    kind, filters = SEQNO_CASES[case]
    path = str(tmp_path / f"idx_{case}.bag")
    msgs = _two_conn_messages(60)
    if kind == "mcap_chunked":
        write_mcap(path, _PRUNE_CONNS, msgs, chunk_messages=7,
                   encoding="ros1", schema_encoding="ros1msg")
    elif kind == "db3":
        write_db3(path, _PRUNE_CONNS, msgs)
    elif kind == "unindexed":
        write_unindexed(path, msgs)
    else:
        write_counted(path, kind, msgs)
        assert [u.count for u in open_bag(path).units] == [7] * 8 + [4]
    got = read_messages(spark, path, num_partitions=3, seqno=True, **filters)
    assert got.columns == ["offset", "time_ns", "conn_id", "data", "seqno"]
    assert got.rdd.getNumPartitions() == 3
    want = assign_seqno(read_messages(spark, path, **filters), ["offset"])
    got_map = {r.offset: r.seqno for r in got.collect()}
    assert got_map == {r.offset: r.seqno for r in want.collect()}
    n = 20 if case == "topic" else 37 if case == "time" else 60
    assert sorted(got_map.values()) == list(range(n))


def test_chunk_count_check_in_every_read(spark, tmp_path):
    """A ChunkInfo that under-declares a chunk fails the read loudly,
    naming the chunk — with and without index-derived seqno."""
    path = str(tmp_path / "short.bag")
    write_rosbag(path, _PRUNE_CONNS, _two_conn_messages(40), messages_per_chunk=10)
    pos = under_declare_chunk(path, 2)
    for seqno in (True, False):
        with pytest.raises(Exception, match=f"chunk 2 at byte {pos} holds 10"):
            read_messages(spark, path, num_partitions=2, seqno=seqno).collect()


def test_index_seqno_refuses_unindexed_and_filtered(tmp_path, spark):
    """Declared counts give per-unit bases only when every unit has one;
    a filtered read and a bag without ChunkInfo counts still number
    contiguously (through the count job)."""
    from rosbag2parquet_spark.sources.container import index_seqno_bases

    path = str(tmp_path / "idx.bag")
    write_rosbag(path, _PRUNE_CONNS, _two_conn_messages(25), messages_per_chunk=10)
    units = open_bag(path).units
    assert index_seqno_bases(units) == [0, 10, 20]
    assert index_seqno_bases(units[:1] + [units[1]._replace(count=-1)]) is None
    got = read_messages(spark, path, start_ns=_T0 + 5_000_000, seqno=True)
    rows = sorted((r.offset, r.seqno) for r in got.collect())
    assert [s for _, s in rows] == list(range(20))
    empty = str(tmp_path / "empty.bag")
    write_rosbag(empty, _PRUNE_CONNS, [])  # one empty chunk, no ChunkInfo
    assert index_seqno_bases(open_bag(empty).units) is None
    assert read_messages(spark, empty, seqno=True).count() == 0


def test_group_by_bytes_contiguous_and_balanced():
    from rosbag2parquet_spark.sources.container import group_by_bytes

    items = list(range(10))
    groups = group_by_bytes(items, [100] * 10, 8)
    assert len(groups) == 8 and [i for g in groups for i in g] == items
    assert group_by_bytes(items, [100] * 10, 2) == [items[:5], items[5:]]
    # weights, not item counts, decide the cut
    assert group_by_bytes(items, [900] + [100] * 9, 2) == [[0], items[1:]]
    assert group_by_bytes(items, [0] * 10, 1) == [items]
    assert group_by_bytes([0, 1], [5, 5], 8) == [[0], [1]]
