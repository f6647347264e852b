"""convert_bags: a FLEET of bags into one table layout — the reference's
"multiple compatible parquet files can be treated as a single file" claim
(README.md:16). Covers cross-bag seqno continuity, first-seen connection
reconciliation (including a connection shared between a rosbag and an
SBAG), per-type row counts vs per-bag sums, and path resolution."""

import os
import struct

import pytest

from rosbag2parquet_spark.convert import convert_bags, resolve_bag_paths
from rosbag2parquet_spark.sources.baglike import ConnectionInfo, write_bag
from rosbag2parquet_spark.sources.rosbag import write_rosbag
from tests.conftest import layout_files
from tests.test_baglike import ANGVEL, FRAME, LINACC, QUAT, SEQ, STAMP, _imu_payload
from tests.test_convert_bag import GPS_DEF, _gps_payload
from tests.test_msgdef import IMU_DEF

IMU_CONN = dict(
    topic="/imu", datatype="sensor_msgs/Imu", md5sum="imu_md5", msg_def=IMU_DEF
)
GPS_CONN = dict(
    topic="/gps", datatype="nav_msgs/Gps", md5sum="gps_md5", msg_def=GPS_DEF
)


@pytest.fixture(scope="module")
def fleet(tmp_path_factory):
    """Two bags whose four LOCAL connections are two GLOBAL identities:

    bag 0 (rosbag): /imu (conn 1) x2 msgs, /gps (conn 2) x1
    bag 1 (SBAG):   /imu (conn 5, same identity as bag 0's conn 1) x1,
                    /gps (conn 7, same identity as bag 0's conn 2) x2
    """
    d = tmp_path_factory.mktemp("fleet")
    imu = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    bag0 = str(d / "a.bag")
    write_rosbag(
        bag0,
        [ConnectionInfo(1, **IMU_CONN), ConnectionInfo(2, **GPS_CONN)],
        [(1, 1_000, imu), (2, 2_000, _gps_payload(0)), (1, 3_000, imu)],
    )
    bag1 = str(d / "b.sbag")
    write_bag(
        bag1,
        [ConnectionInfo(5, **IMU_CONN), ConnectionInfo(7, **GPS_CONN)],
        [(7, 4_000, _gps_payload(1)), (5, 5_000, imu), (7, 6_000, _gps_payload(2))],
    )
    return d, [bag0, bag1]


@pytest.fixture(scope="module")
def fleet_out(spark, fleet, tmp_path_factory):
    _, paths = fleet
    out = str(tmp_path_factory.mktemp("fleet_out"))
    info = convert_bags(spark, paths, out)
    return out, info


def test_seqno_continuous_in_input_order(spark, fleet_out):
    out, info = fleet_out
    assert info.count == 6
    messages = spark.read.parquet(os.path.join(out, "Messages"))
    rows = messages.orderBy("seqno").collect()
    assert [r.seqno for r in rows] == [0, 1, 2, 3, 4, 5]
    # input order: bag 0's messages (times 1k..3k) precede bag 1's (4k..6k)
    assert [r.time_nsec for r in rows] == [1_000, 2_000, 3_000, 4_000, 5_000, 6_000]


def test_connections_reconciled_first_seen(spark, fleet_out):
    out, _ = fleet_out
    conns = spark.read.parquet(os.path.join(out, "Connections")).collect()
    # 2 distinct identities, not 4 local connections
    assert len(conns) == 2
    by_topic = {c.topic: c for c in conns}
    # first-seen order: bag 0 header order wins the ids
    assert by_topic["/imu"].connection_id == 0
    assert by_topic["/gps"].connection_id == 1
    assert by_topic["/imu"].callerid == "" and by_topic["/imu"].latching == ""


def test_pertype_counts_equal_per_bag_sums(spark, fleet_out):
    out, _ = fleet_out
    imu = spark.read.parquet(os.path.join(out, "sensor_msgs_Imu"))
    gps = spark.read.parquet(os.path.join(out, "nav_msgs_Gps"))
    assert imu.count() == 2 + 1  # bag0 x2 + bag1 x1, ONE table across bags
    assert gps.count() == 1 + 2
    # remapped connection ids: every per-type row carries the GLOBAL id
    assert {r.connection_id for r in imu.collect()} == {0}
    assert {r.connection_id for r in gps.collect()} == {1}
    # values survive the union + remap (golden spot-check)
    assert sorted(r.status for r in gps.collect()) == ["fix0", "fix1", "fix2"]


def test_messages_bag_provenance(spark, fleet_out):
    """Reference TODO (FlattenedRosWriter.cpp:183 "we should add a file ID
    to all entries"): every Messages row names the bag it came from. The
    fleet's input order is golden — bag 0's three messages (times
    1k..3k ns) take seqno 0..2, bag 1's (4k..6k) take 3..5 — so the
    per-row ordinal round-trips exactly."""
    out, _ = fleet_out
    messages = spark.read.parquet(os.path.join(out, "Messages"))
    rows = messages.orderBy("seqno").collect()
    assert [r.bag_index for r in rows] == [0, 0, 0, 1, 1, 1]


def test_messages_fk_consistency(spark, fleet_out):
    out, _ = fleet_out
    messages = spark.read.parquet(os.path.join(out, "Messages"))
    conns = spark.read.parquet(os.path.join(out, "Connections"))
    dangling = messages.join(conns, "connection_id", "left_anti")
    assert dangling.count() == 0


def test_directory_mode_skips_non_bag_files(spark, fleet, tmp_path):
    d, paths = fleet
    (d / "README.txt").write_text("not a bag")
    (d / "partial.download").write_bytes(b"\x00\x01garbage")
    resolved = resolve_bag_paths(str(d))
    assert resolved == sorted(paths)
    out = str(tmp_path / "out")
    info = convert_bags(spark, str(d), out)
    assert info.count == 6


def test_resolve_glob_and_literal_bracket(tmp_path):
    p1 = str(tmp_path / "x1.sbag")
    p2 = str(tmp_path / "x2.sbag")
    for p in (p1, p2):
        write_bag(p, [ConnectionInfo(1, "/t", "d/T", "m", "uint32 x")], [])
    assert resolve_bag_paths(str(tmp_path / "x*.sbag")) == [p1, p2]
    # a literal '[' in an EXISTING path is a filename, not a glob class
    lit = str(tmp_path / "odd[1].sbag")
    write_bag(lit, [ConnectionInfo(1, "/t", "d/T", "m", "uint32 x")], [])
    assert resolve_bag_paths(lit) == [lit]
    with pytest.raises(ValueError, match="no bag files"):
        resolve_bag_paths(str(tmp_path / "missing*.sbag"))


def test_single_and_fleet_connections_schemas_compatible(spark, fleet, tmp_path):
    """The same bag through convert_bag and convert_bags yields the same
    7-column Connections schema (ADVICE r3: the SBAG path used to emit 5)."""
    from rosbag2parquet_spark.convert import convert_bag

    _, paths = fleet
    out1 = str(tmp_path / "single")
    out2 = str(tmp_path / "fleet")
    convert_bag(spark, paths[1], out1)
    convert_bags(spark, [paths[1]], out2)
    c1 = spark.read.parquet(os.path.join(out1, "Connections"))
    c2 = spark.read.parquet(os.path.join(out2, "Connections"))
    assert c1.columns == c2.columns


def test_cli_fleet_mode(fleet, tmp_path, capsys, spark):
    """`python -m rosbag2parquet_spark --input <dir-of-bags>` routes to
    convert_bags; a parquet input keeps the stream-convert path."""
    from rosbag2parquet_spark.__main__ import main

    d, _ = fleet
    out = str(tmp_path / "cli_out")
    assert main(["--input", str(d), "--outdir", out]) == 0
    assert "6 messages" in capsys.readouterr().out
    import os

    assert os.path.isdir(os.path.join(out, "Messages"))


def test_cli_append_mode(fleet, tmp_path, capsys, spark):
    """`--append` writes INTO the existing layout (no outdir.N rename) and
    continues seqno after the existing max."""
    import os

    from rosbag2parquet_spark.__main__ import main

    _, bags = fleet
    out = str(tmp_path / "cli_append_out")
    assert main(["--input", bags[0], "--outdir", out]) == 0
    capsys.readouterr()
    assert main(["--input", bags[1], "--outdir", out, "--append"]) == 0
    capsys.readouterr()
    msgs = spark.read.parquet(os.path.join(out, "Messages"))
    seqs = sorted(r.seqno for r in msgs.collect())
    assert seqs == list(range(6))
    # no outdir.1 side-step happened
    assert not os.path.exists(out + ".1")


def test_fleet_scan_maps_conn_ids_at_high_bag_ordinals(spark, tmp_path):
    """The fleet scan maps each split's local connection ids through its
    bag's map and stamps the bag ordinal, with no combined key that could
    wrap at 2048 bags: a 5001-bag scan (one SBAG listed 5001 times) gives
    bag 5000's rows its own global id and ``bag_index = 5000``."""
    from rosbag2parquet_spark.sources.container import read_messages

    p = str(tmp_path / "one.sbag")
    imu = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    write_bag(p, [ConnectionInfo(3, **IMU_CONN)], [(3, 1_000, imu)])
    maps = [{3: 0}] * 5000 + [{3: 77}]
    df = read_messages(spark, [p] * 5001, 4, seqno=True, conn_maps=maps)
    assert df.columns == [
        "offset", "time_ns", "conn_id", "data", "bag_index", "seqno"
    ]
    assert df.rdd.getNumPartitions() <= 4
    last = df.filter("bag_index = 5000").collect()
    assert [(r.conn_id, r.seqno) for r in last] == [(77, 5000)]
    rest = df.filter("bag_index < 5000").select("conn_id", "bag_index", "seqno")
    assert {r.conn_id for r in rest.collect()} == {0}
    assert sorted(r.bag_index for r in rest.collect()) == list(range(5000))


def test_unmapped_conn_id_fails_fast(spark, tmp_path):
    """A message referencing a conn_id absent from the header is corrupt
    input: the conversion must raise, not silently drop the rows."""
    p = str(tmp_path / "corrupt.sbag")
    write_bag(
        p,
        [ConnectionInfo(1, **IMU_CONN)],
        [(1, 1_000, _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)),
         (99, 2_000, b"\x00\x00\x00\x00")],  # conn 99 not in the header
    )
    with pytest.raises(Exception, match="unmapped connection key"):
        convert_bags(spark, [p], str(tmp_path / "out"))


def test_magic_dispatch_overrides_extension(spark, tmp_path):
    """A rosbag with a nonstandard extension, admitted by magic bytes in
    directory mode, must dispatch to the ROSBAG reader (ADVICE r4: it was
    parsed as SBAG and failed the whole fleet)."""
    bags = tmp_path / "landing"
    bags.mkdir()
    imu = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    write_rosbag(
        str(bags / "mislabeled.data"),
        [ConnectionInfo(1, **IMU_CONN)],
        [(1, 1_000, imu), (1, 2_000, imu)],
    )
    assert resolve_bag_paths(str(bags)) == [str(bags / "mislabeled.data")]
    info = convert_bags(spark, str(bags), str(tmp_path / "out"))
    assert info.count == 2
    imu_tbl = spark.read.parquet(str(tmp_path / "out" / "sensor_msgs_Imu"))
    assert imu_tbl.count() == 2


def test_single_header_walk_per_bag(spark, tmp_path, monkeypatch):
    """The driver process walks each rosbag's header exactly ONCE, however
    many consumers need the scan (connections dim, bucket width, planner)
    — ADVICE r4 counted three redundant walks on multi-GB fleets. (The
    datasource planner worker is a separate process; it gets the chunk
    refs threaded through an option instead.)"""
    from functools import lru_cache

    from rosbag2parquet_spark.sources import rosbag as rb

    walks = []
    orig = rb._scan_rosbag_uncached.__wrapped__

    @lru_cache(maxsize=64)
    def counting(path, mtime_ns, size):
        walks.append(path)
        return orig(path, mtime_ns, size)

    monkeypatch.setattr(rb, "_scan_rosbag_uncached", counting)
    imu = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    p = str(tmp_path / "one.bag")
    write_rosbag(p, [ConnectionInfo(1, **IMU_CONN)], [(1, 1_000, imu)])
    info = convert_bags(spark, [p], str(tmp_path / "out"))
    assert info.count == 1
    assert walks == [p]


def test_mixed_grammar_fleet_is_one_scan(spark, fleet, tmp_path, monkeypatch):
    """A rosbag, an SBAG and a ros1 MCAP convert as ONE planned scan over
    all three bags — of at most ``num_partitions`` splits, read by one
    write job (plus the count job the chunked MCAP's undeclared counts
    need) — numbered 0..N-1 in bag order with each bag's ordinal; adding
    a CDR ``.db3`` is refused up front."""
    import importlib

    from rosbag2parquet_spark.sources.mcap import write_mcap
    from rosbag2parquet_spark.sources.rosbag2 import write_db3
    from tests.test_layout_write import _jobs_since, _last_job

    # the package __init__ re-exports the convert FUNCTION under the same
    # name, so attribute-style module import resolves to the function
    cv = importlib.import_module("rosbag2parquet_spark.convert")
    _, paths = fleet
    mc = str(tmp_path / "c.mcap")
    write_mcap(mc, [ConnectionInfo(4, "/n", "demo/N", "", "uint32 n\n")],
               [(4, 7_000 + i, struct.pack("<I", i)) for i in range(5)],
               chunk_messages=2, encoding="ros1", schema_encoding="ros1msg")
    scans = []
    real = cv.plan_scan

    def spy(*args, **kwargs):
        scans.append(real(*args, **kwargs))
        return scans[-1]

    monkeypatch.setattr(cv, "plan_scan", spy)
    out = str(tmp_path / "mixed")
    before = _last_job(spark)
    assert convert_bags(spark, paths + [mc], out, num_partitions=2).count == 11
    assert _jobs_since(spark, before) == 2
    assert len(scans) == 1
    (plan,) = scans
    assert [os.path.basename(b[0]) for b in plan.bags] == [
        os.path.basename(p) for p in paths + [mc]
    ]
    assert 1 <= len(plan.splits) <= 2
    assert sorted({u[0] for s in plan.splits for u in s}) == [0, 1, 2]
    rows = spark.read.parquet(os.path.join(out, "Messages")).orderBy("seqno")
    got = [(r.seqno, r.bag_index, r.connection_id) for r in rows.collect()]
    assert [g[0] for g in got] == list(range(11))
    assert [g[1] for g in got] == [0] * 3 + [1] * 3 + [2] * 5
    assert [g[2] for g in got[6:]] == [2] * 5  # after the fleet's /imu, /gps
    n = spark.read.parquet(os.path.join(out, "demo_N")).orderBy("seqno")
    assert [(r.seqno, r.n) for r in n.collect()] == [(6 + i, i) for i in range(5)]

    db3 = str(tmp_path / "d.db3")
    write_db3(db3, [ConnectionInfo(1, **IMU_CONN)], [])
    with pytest.raises(ValueError, match="mixes payload serializations"):
        convert_bags(spark, paths + [db3], str(tmp_path / "refused"))


def test_fleet_append_reuses_callerless_connection(spark, tmp_path):
    """A rosbag connection without callerid/latching is stored NULL by
    convert_bag; a fleet append of another bag with the same connection
    keeps its id instead of adding a second Connections row."""
    from rosbag2parquet_spark.convert import convert_bag

    imu = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    a, b = str(tmp_path / "a.bag"), str(tmp_path / "b.bag")
    write_rosbag(a, [ConnectionInfo(1, **IMU_CONN)], [(1, 1_000, imu)])
    write_rosbag(b, [ConnectionInfo(1, **IMU_CONN)], [(1, 2_000, imu)])
    out = str(tmp_path / "lay")
    convert_bag(spark, a, out)
    assert convert_bags(spark, [b], out, mode="append").count == 1
    conns = spark.read.parquet(os.path.join(out, "Connections")).collect()
    assert [(c.connection_id, c.callerid) for c in conns] == [(1, None)]
    msgs = spark.read.parquet(os.path.join(out, "Messages")).collect()
    assert sorted((m.seqno, m.connection_id) for m in msgs) == [(0, 1), (1, 1)]


def test_convert_bags_append_equals_one_fleet(spark, tmp_path):
    """Incremental ingest: convert bag A, then APPEND bag B — the layout
    must equal converting [A, B] as one fleet: continuous seqno, stable
    connection ids (identities already in the dim keep theirs; new ones
    number after), identical per-type content, and a DDL script that still
    lists every table."""
    DEF_A = "uint32 a\nstring s\n"
    DEF_B = "uint32 b\n"
    conns_a = [ConnectionInfo(1, "/t1", "demo/TypeA", "ma", DEF_A)]
    conns_b = [
        ConnectionInfo(1, "/t1", "demo/TypeA", "ma", DEF_A),  # same identity
        ConnectionInfo(2, "/t2", "demo/TypeB", "mb", DEF_B),  # new identity
    ]

    def enc_a(i):
        s = f"x{i}".encode()
        return struct.pack("<I", i) + struct.pack("<I", len(s)) + s

    msgs_a = [(1, 10**18 + i * 1000, enc_a(i)) for i in range(8)]
    msgs_b = [(1, 10**18 + (100 + i) * 1000, enc_a(100 + i)) for i in range(5)]
    msgs_b += [(2, 10**18 + (200 + i) * 1000, struct.pack("<I", i)) for i in range(4)]
    pa = str(tmp_path / "a.sbag")
    pb = str(tmp_path / "b.sbag")
    write_bag(pa, conns_a, msgs_a)
    write_bag(pb, conns_b, sorted(msgs_b, key=lambda m: m[1]))

    inc = str(tmp_path / "incremental")
    convert_bags(spark, [pa], inc)
    info = convert_bags(spark, [pb], inc, mode="append")
    assert info.count == 9

    fleet = str(tmp_path / "fleet")
    convert_bags(spark, [pa, pb], fleet)

    for table in ("Messages", "Connections", "demo_TypeA", "demo_TypeB"):
        x = spark.read.parquet(os.path.join(inc, table))
        y = spark.read.parquet(os.path.join(fleet, table))
        assert x.exceptAll(y).count() == 0 and y.exceptAll(x).count() == 0, table
    seqs = [
        r.seqno
        for r in spark.read.parquet(os.path.join(inc, "Messages"))
        .orderBy("seqno")
        .collect()
    ]
    assert seqs == list(range(17))
    ddl = open(os.path.join(inc, "load_tables.sql")).read()
    assert "demo_TypeA" in ddl and "demo_TypeB" in ddl

    # appending a SCHEMA-DRIFTED TypeA bag is refused: the new def carries
    # a new md5 identity, and one type may not span two md5s (the
    # reference's FlattenedRosWriter.cpp:287 assert)
    conns_drift = [ConnectionInfo(1, "/t1", "demo/TypeA", "mc",
                                  "uint32 a\nuint32 extra\nstring s\n")]
    pc = str(tmp_path / "c.sbag")
    write_bag(pc, conns_drift,
              [(1, 10**18 + 300_000, struct.pack("<II", 1, 2)
                + struct.pack("<I", 1) + b"z")])
    with pytest.raises(ValueError, match="schema mismatch|md5"):
        convert_bags(spark, [pc], inc, mode="append")
    # the refused append left the layout UNTOUCHED (validation precedes
    # every write — no half-appended tables)
    msgs = spark.read.parquet(os.path.join(inc, "Messages"))
    assert msgs.count() == 17


def test_append_evolve_additive_schema(spark, tmp_path):
    """Schema evolution across recording sessions (the case the reference's
    hard md5 assert refuses outright): a later bag's definition GAINS a
    field — strict append refuses, evolve-append lands the batch padded to
    the union schema, and a mergeSchema read shows old rows with NULLs in
    the new column. A TYPE change is refused even under evolve."""
    import pytest as _pytest

    from rosbag2parquet_spark.convert import (
        convert_bag,
        convert_bags,
        read_layout_table,
    )
    from rosbag2parquet_spark.sources.baglike import ConnectionInfo, write_bag

    def mk(path, deftext, payloads, md5):
        conns = [ConnectionInfo(1, "/t", "demo/Evolving", md5, deftext)]
        write_bag(path, conns, payloads)
        return path

    import struct

    a = mk(
        str(tmp_path / "a.sbag"), "uint32 a\n",
        [(1, 10**18 + i, struct.pack("<I", i)) for i in range(4)], "m1",
    )
    b = mk(
        str(tmp_path / "b.sbag"), "uint32 a\nuint32 b\n",
        [(1, 10**18 + 10**9 + i, struct.pack("<II", i, 100 + i)) for i in range(3)],
        "m2",
    )
    out = str(tmp_path / "layout")
    convert_bag(spark, a, out)

    # strict append refuses the widened definition (md5 identity — BEFORE
    # any write, so the layout is untouched)
    with _pytest.raises(ValueError, match="disagree on md5sum"):
        convert_bags(spark, [b], out, mode="append")

    info = convert_bags(spark, [b], out, mode="append", evolve=True)
    assert info.count == 3

    t = read_layout_table(spark, out, "demo_Evolving").orderBy("seqno")
    rows = t.collect()
    assert len(rows) == 7
    assert [r.a for r in rows] == [0, 1, 2, 3, 0, 1, 2]
    assert [r.b for r in rows] == [None] * 4 + [100, 101, 102]

    # dropping the field again is also fine (padded back to the union)
    c = mk(
        str(tmp_path / "c.sbag"), "uint32 a\n",
        [(1, 10**18 + 2 * 10**9, struct.pack("<I", 9))], "m1",
    )
    info = convert_bags(spark, [c], out, mode="append", evolve=True)
    rows = read_layout_table(spark, out, "demo_Evolving").orderBy("seqno").collect()
    assert len(rows) == 8 and rows[-1].a == 9 and rows[-1].b is None

    # a TYPE change is never silently coerced
    d = mk(
        str(tmp_path / "d.sbag"), "float64 a\n",
        [(1, 10**18 + 3 * 10**9, struct.pack("<d", 1.5))], "m3",
    )
    before_msgs = spark.read.parquet(os.path.join(out, "Messages")).count()
    before_rows = read_layout_table(spark, out, "demo_Evolving").count()
    with _pytest.raises(ValueError, match="never silently coerced"):
        convert_bags(spark, [d], out, mode="append", evolve=True)
    # the refused evolve-append left the layout UNTOUCHED — validation
    # runs before ANY table write (no orphan Messages/Connections rows)
    assert spark.read.parquet(os.path.join(out, "Messages")).count() == before_msgs
    assert read_layout_table(spark, out, "demo_Evolving").count() == before_rows


def test_strict_fleet_refuses_db3_definition_drift(spark, tmp_path):
    """``.db3`` connections carry no md5sum (""), which is UNKNOWN, not a
    shared value: two recordings whose shared type has different
    definitions are refused by a strict fleet before any write, and
    ``evolve=True`` still lands them padded to the union."""
    from rosbag2parquet_spark.convert import read_layout_table
    from rosbag2parquet_spark.sources.rosbag2 import write_db3

    def mk(name, deftext, payloads):
        p = str(tmp_path / name)
        conns = [ConnectionInfo(1, "/t", "demo/Evolving", "", deftext)]
        write_db3(p, conns, payloads)
        return p

    cdr = b"\x00\x01\x00\x00"
    a = mk("a.db3", "uint32 a\n",
           [(1, 10**18 + i, cdr + struct.pack("<I", i)) for i in range(3)])
    b = mk("b.db3", "uint32 a\nuint32 b\n",
           [(1, 10**18 + 10**9 + i, cdr + struct.pack("<II", i, 100 + i))
            for i in range(2)])
    out = str(tmp_path / "strict")
    with pytest.raises(ValueError, match="disagree on the message definition"):
        convert_bags(spark, [a, b], out)
    assert not os.path.exists(os.path.join(out, "Messages"))

    out = str(tmp_path / "evolved")
    assert convert_bags(spark, [a, b], out, evolve=True).count == 5
    rows = read_layout_table(spark, out, "demo_Evolving").orderBy("seqno").collect()
    assert [(r.bag_index, r.a, r.b) for r in rows] == [
        (0, 0, None), (0, 1, None), (0, 2, None), (1, 0, 100), (1, 1, 101)
    ]


def test_ros1_mcap_and_rosbag_share_a_type(spark, tmp_path):
    """A ros1 MCAP channel has no md5sum field; carrying the SAME
    definition text as a rosbag connection (md5 known) it joins the
    rosbag's type table in one strict fleet instead of being refused."""
    from rosbag2parquet_spark.sources.mcap import write_mcap

    deftext = "uint32 a\nfloat64 b\n"
    rb = str(tmp_path / "a.bag")
    write_rosbag(rb, [ConnectionInfo(1, "/s", "demo/Simple", "m1", deftext)],
                 [(1, 1_000 + i, struct.pack("<Id", i, i * 0.5)) for i in range(3)])
    mc = str(tmp_path / "b.mcap")
    write_mcap(mc, [ConnectionInfo(1, "/s", "demo/Simple", "", deftext)],
               [(1, 5_000 + i, struct.pack("<Id", 10 + i, 0.0)) for i in range(4)],
               encoding="ros1", schema_encoding="ros1msg")
    out = str(tmp_path / "out")
    assert convert_bags(spark, [rb, mc], out).count == 7
    rows = spark.read.parquet(os.path.join(out, "demo_Simple")).orderBy("seqno")
    assert [r.a for r in rows.collect()] == [0, 1, 2, 10, 11, 12, 13]


def test_pertype_with_provenance_resolves_bag_names(spark, fleet_out):
    """The layout-level provenance read (reference TODO
    FlattenedRosWriter.cpp:183 surfaced end to end): per-type rows carry
    their stamped bag_index and the Bags manifest resolves the ordinal to
    the source bag's NAME — every Imu row names a.bag or b.sbag exactly
    as recorded."""
    from rosbag2parquet_spark.convert import pertype_with_provenance

    out, _ = fleet_out
    imu = pertype_with_provenance(spark, out, "sensor_msgs_Imu")
    rows = imu.orderBy("seqno").collect()
    assert [(r.bag_index, r.bag) for r in rows] == [
        (0, "a.bag"),
        (0, "a.bag"),
        (1, "b.sbag"),
    ]
    gps = pertype_with_provenance(spark, out, "nav_msgs_Gps")
    assert sorted((r.bag_index, r.bag) for r in gps.collect()) == [
        (0, "a.bag"),
        (1, "b.sbag"),
        (1, "b.sbag"),
    ]


def test_pertype_bag_index_stamped_and_matches_messages(spark, fleet_out):
    """r11: the ordinal is STAMPED into per-type tables at write time
    (reference TODO FlattenedRosWriter.cpp:183 asks for a file ID on ALL
    entries) — provenance reads are a projection, no seqno join. Golden:
    per-type ordinals equal Messages' ordinals row-for-row across the
    whole fleet layout."""
    from rosbag2parquet_spark.convert import pertype_with_provenance
    from rosbag2parquet_spark.plans.inspect import physical_plan

    out, _ = fleet_out
    messages = spark.read.parquet(os.path.join(out, "Messages"))
    expect = {r.seqno: r.bag_index for r in messages.collect()}
    seen: dict = {}
    for t in ("sensor_msgs_Imu", "nav_msgs_Gps"):
        pt = spark.read.parquet(os.path.join(out, t))
        assert pt.columns[-1] == "bag_index"  # trailing, like Messages
        seen.update({r.seqno: r.bag_index for r in pt.collect()})
    assert seen == expect
    # and the provenance read plans WITHOUT a seqno join: the only join
    # left is the broadcast name resolve
    plan = physical_plan(pertype_with_provenance(spark, out, "sensor_msgs_Imu"))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def _forge_older(table_dir: str, column: str, at: "int | None" = None) -> None:
    """Rewrite every file of a layout table without ``column``, as a
    converter that predates it wrote the table; with ``at``, a payload
    column of that name sits at position ``at`` instead."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for f in os.listdir(table_dir):
        if f.endswith(".parquet"):
            path = os.path.join(table_dir, f)
            t = pq.read_table(path).drop_columns([column])
            if at is not None:
                t = t.add_column(
                    at, column, pa.array([900] * t.num_rows, pa.int32())
                )
            pq.write_table(t.replace_schema_metadata(None), path)


@pytest.mark.parametrize(
    "table, column",
    [
        ("Messages", "time"),
        ("Messages", "bag_index"),
        ("sensor_msgs_Imu", "bag_index"),
    ],
)
def test_append_refuses_older_layout_unchanged(
    spark, fleet, tmp_path, table, column
):
    """An append into a table written before one of its columns existed
    is refused by the fingerprint guard before the job runs; every file
    of the layout is left byte-identical."""
    _, paths = fleet
    out = str(tmp_path / "lay")
    convert_bags(spark, [paths[0]], out)
    _forge_older(os.path.join(out, table), column)
    before = layout_files(out)
    with pytest.raises(ValueError, match="schema mismatch"):
        convert_bags(spark, [paths[1]], out, mode="append")
    assert layout_files(out) == before


def test_evolve_append_refuses_table_without_fixed_column(
    spark, fleet, tmp_path
):
    """Evolve mode adds and drops VALUE columns only: a per-type table
    without the bag_index stamp (or any fixed column) is refused, since
    its old rows would read NULL provenance; the layout is left
    byte-identical."""
    _, paths = fleet
    out = str(tmp_path / "lay")
    convert_bags(spark, [paths[0]], out)
    _forge_older(os.path.join(out, "sensor_msgs_Imu"), "bag_index")
    before = layout_files(out)
    with pytest.raises(ValueError, match=r"lacks \['bag_index'\]"):
        convert_bags(spark, [paths[1]], out, mode="append", evolve=True)
    assert layout_files(out) == before


def test_provenance_refuses_a_table_without_the_stamp(spark, fleet, tmp_path):
    """The provenance read needs the stamp after `data`: a table without
    it, or with a payload column of that name before `data`, is
    refused instead of read as NULL or payload ordinals."""
    from rosbag2parquet_spark.convert import pertype_with_provenance

    _, paths = fleet
    out = str(tmp_path / "lay")
    convert_bags(spark, paths, out)
    _forge_older(os.path.join(out, "sensor_msgs_Imu"), "bag_index", at=1)
    _forge_older(os.path.join(out, "nav_msgs_Gps"), "bag_index")
    for table in ("sensor_msgs_Imu", "nav_msgs_Gps"):
        with pytest.raises(ValueError, match="re-convert"):
            pertype_with_provenance(spark, out, table)
