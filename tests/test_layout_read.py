"""Layout reads planned on the driver: the footer keys every bag-convert
file carries, the schema resolver built on them (`catalog.footer_schema`)
against Spark's own mergeSchema inference, the one layout shape every
converter writes, and the Spark jobs the layout readers start."""

import json
import os
import shutil
import struct

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from rosbag2parquet_spark import layout_write as lw
from rosbag2parquet_spark.convert import (
    _SIDECAR_SCHEMAS,
    _read_existing_schema,
    convert,
    convert_bag,
    convert_bags,
    pertype_with_provenance,
    read_layout_table,
    resume_convert_bag,
    table_schema,
)
from rosbag2parquet_spark.info import layout_info
from rosbag2parquet_spark.operators.keys import PROPS_SCHEMA
from rosbag2parquet_spark.sources.baglike import ConnectionInfo, write_bag
from rosbag2parquet_spark.sources.catalog import footer_schema, load_table
from rosbag2parquet_spark.sources.container import CONN_SCHEMA
from rosbag2parquet_spark.sources.mcap import write_mcap
from rosbag2parquet_spark.sources.rosbag import write_rosbag
from rosbag2parquet_spark.sources.rosbag2 import write_db3
from tests.conftest import SF_DIR
from tests.test_baglike import ANGVEL, FRAME, LINACC, QUAT, SEQ, STAMP, _imu_payload
from tests.test_convert_bag import GPS_DEF, _gps_payload
from tests.test_layout_write import _jobs_since, _last_job
from tests.test_mcap import CONNS as MCAP_CONNS
from tests.test_mcap import _messages as mcap_messages
from tests.test_msgdef import IMU_DEF
from tests.test_resume import _grow_db3, _imu_msgs
from tests.test_rosbag2 import IMU_DEF as IMU_LITE_DEF

IMU_CONN = dict(
    topic="/imu", datatype="sensor_msgs/Imu", md5sum="imu_md5", msg_def=IMU_DEF
)
GPS_CONN = dict(
    topic="/gps", datatype="nav_msgs/Gps", md5sum="gps_md5", msg_def=GPS_DEF
)


@pytest.fixture(scope="module")
def bags(tmp_path_factory):
    """A rosbag and an SBAG over the same two connections."""
    d = tmp_path_factory.mktemp("bags")
    imu = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    a = str(d / "a.bag")
    write_rosbag(
        a,
        [ConnectionInfo(1, **IMU_CONN), ConnectionInfo(2, **GPS_CONN)],
        [(1, 1_000, imu), (2, 2_000, _gps_payload(0)), (1, 3_000, imu)],
    )
    b = str(d / "b.sbag")
    write_bag(
        b,
        [ConnectionInfo(1, **IMU_CONN), ConnectionInfo(2, **GPS_CONN)],
        [(2, 4_000, _gps_payload(1)), (1, 5_000, imu), (2, 6_000, _gps_payload(2))],
    )
    return a, b


@pytest.fixture(scope="module")
def fleet_layout(spark, bags, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("layout") / "out")
    convert_bags(spark, list(bags), out, num_partitions=2)
    return out


def _tables(layout: str) -> list:
    return sorted(
        d for d in os.listdir(layout)
        if os.path.isdir(os.path.join(layout, d)) and not d.startswith("_")
    )


def _data_files(table_dir: str) -> list:
    return sorted(
        os.path.join(table_dir, f) for f in os.listdir(table_dir)
        if not f.startswith(("_", "."))
    )


def _spark_merged(spark, table_dir: str) -> T.StructType:
    return spark.read.option("mergeSchema", "true").parquet(table_dir).schema


def _assert_parity(spark, table_dir: str) -> None:
    """The resolver's schema, from the footers alone, equals Spark's
    mergeSchema inference, field order included."""
    want = _spark_merged(spark, table_dir)
    assert footer_schema(spark, table_dir, merge=True) == want, table_dir
    assert table_schema(spark, table_dir) == want
    layout, table = os.path.split(table_dir)
    assert read_layout_table(spark, layout, table).schema == want


def test_every_layout_file_carries_spark_footer_keys(spark, fleet_layout):
    """Both Spark keys land in every file of every table, and the schema
    key parses to the table's declared schema."""
    declared = {
        "Messages": lw.MESSAGES_SCHEMA,
        "Stats": lw.STATS_SCHEMA,
        "Connections": T.StructType.fromDDL(CONN_SCHEMA),
        **{n: T.StructType.fromDDL(d) for n, d in _SIDECAR_SCHEMAS.items()},
    }
    tables = _tables(fleet_layout)
    assert {"Messages", "Stats", "Connections", "Bags", "sensor_msgs_Imu",
            "nav_msgs_Gps"} <= set(tables)
    for table in tables:
        files = _data_files(os.path.join(fleet_layout, table))
        assert files, table
        for f in files:
            md = pq.read_metadata(f).metadata
            assert md is not None, f
            assert md[lw.SPARK_VERSION_KEY.encode()].decode() == spark.version
            schema = T.StructType.fromJson(
                json.loads(md[lw.SPARK_SCHEMA_KEY.encode()])
            )
            assert schema.names == pq.read_schema(f).names, f
            if table in declared:
                assert schema == declared[table], f
            else:
                assert schema.names[0] == "seqno"
                assert schema.names[-3:] == ["connection_id", "data", "bag_index"]


def _convert_with(spark, how: str, bags, tmp_path, out: str) -> None:
    """Write a layout to ``out`` with one of the converters."""
    if how == "convert":
        events = load_table(spark, SF_DIR, "events").limit(50)
        convert(spark, events, out, order_cols=["ts", "event_id"],
                payload_schema=PROPS_SCHEMA)
    elif how in ("rosbag", "sbag"):
        convert_bag(spark, bags[how == "sbag"], out)
    elif how == "mcap":
        p = str(tmp_path / "m.mcap")
        write_mcap(p, MCAP_CONNS, mcap_messages(10), chunk_messages=5)
        convert_bag(spark, p, out)
    elif how in ("db3", "resume"):
        p = str(tmp_path / "live.db3")
        conn = ConnectionInfo(1, "/imu", "sensor_msgs/ImuLite", "", IMU_LITE_DEF)
        write_db3(p, [conn], _imu_msgs(0, 10))
        convert_bag(spark, p, out)
        if how == "resume":
            _grow_db3(p, _imu_msgs(10, 15))
            assert resume_convert_bag(spark, p, out).count == 5
    else:
        convert_bags(spark, list(bags), out)


@pytest.mark.parametrize(
    "how", ["convert", "rosbag", "sbag", "mcap", "db3", "convert_bags", "resume"]
)
def test_every_converter_writes_the_current_layout(spark, bags, tmp_path, how):
    """The one layout shape the readers and the append guard accept is
    the one every converter writes: every Messages, Connections and Stats
    file's footer schema is `MESSAGES_SCHEMA`, `CONN_SCHEMA` and
    `STATS_SCHEMA`, types included, every per-type table carries
    `bag_index` right after `data`, a bag layout has `Bags`, and no
    marker file lies anywhere in the layout."""
    out = str(tmp_path / "out")
    _convert_with(spark, how, bags, tmp_path, out)
    tables = _tables(out)
    declared = {
        "Messages": lw.MESSAGES_SCHEMA,
        "Connections": T.StructType.fromDDL(CONN_SCHEMA),
        "Stats": lw.STATS_SCHEMA,
    }
    for table, schema in declared.items():
        files = _data_files(os.path.join(out, table))
        assert files, table
        for f in files:
            key = pq.read_metadata(f).metadata[lw.SPARK_SCHEMA_KEY.encode()]
            assert T.StructType.fromJson(json.loads(key)) == schema, (table, f)
    assert read_layout_table(spark, out, "Messages").columns == lw.MESSAGES_SCHEMA.names
    assert "Stats" in tables
    assert ("Bags" in tables) == (how != "convert")
    side = {"Messages", "Connections", "Stats", *_SIDECAR_SCHEMAS}
    pertype = [t for t in tables if t not in side]
    assert pertype
    for table in pertype:
        cols = read_layout_table(spark, out, table).columns
        assert cols[cols.index("data") + 1] == "bag_index", (table, cols)
    names = {f for _d, _s, files in os.walk(out) for f in files}
    assert "_bag_index_mixed" not in names


def test_resolver_equals_spark_merge_on_fresh_layout(spark, fleet_layout):
    for table in _tables(fleet_layout):
        _assert_parity(spark, os.path.join(fleet_layout, table))


def test_resolver_equals_spark_merge_on_evolved_table(spark, tmp_path):
    """Repeated evolve appends leave files of three different schemas in
    one table; their merge order is Spark's listing order."""
    def mk(name, deftext, payloads, md5):
        p = str(tmp_path / name)
        write_bag(p, [ConnectionInfo(1, "/t", "demo/Evolving", md5, deftext)], payloads)
        return p

    out = str(tmp_path / "layout")
    convert_bag(spark, mk("a.sbag", "uint32 a\n",
                          [(1, 10**18 + i, struct.pack("<I", i)) for i in range(4)],
                          "m1"), out)
    convert_bags(spark, [mk("b.sbag", "uint32 a\nuint32 b\n",
                            [(1, 10**18 + 10**9, struct.pack("<II", 1, 2))], "m2")],
                 out, mode="append", evolve=True)
    convert_bags(spark, [mk("c.sbag", "uint32 c\nuint32 a\n",
                            [(1, 10**18 + 2 * 10**9, struct.pack("<II", 3, 4))], "m3")],
                 out, mode="append", evolve=True)
    tdir = os.path.join(out, "demo_Evolving")
    assert len({tuple(pq.read_schema(f).names) for f in _data_files(tdir)}) == 3
    for table in _tables(out):
        _assert_parity(spark, os.path.join(out, table))
    rows = read_layout_table(spark, out, "demo_Evolving").orderBy("seqno").collect()
    assert [(r.a, r.b, r.c) for r in rows][-2:] == [(1, 2, None), (4, None, 3)]


def test_resolver_follows_spark_listing_order(spark, tmp_path):
    """Files whose names sort differently from their write order, each
    adding its own column: the merged field order is the name order."""
    tdir = str(tmp_path / "t")
    os.makedirs(tdir)
    for i, name in enumerate(["m", "b", "z", "a-1", "a_0", "Q", "c"]):
        cols = ["seqno", f"c{i}", "data"]
        schema = T.StructType([T.StructField(c, T.LongType(), False) for c in cols])
        arrow = pa.schema([pa.field(c, pa.int64(), False) for c in cols]).with_metadata(
            {lw.SPARK_SCHEMA_KEY: schema.json(), lw.SPARK_VERSION_KEY: spark.version}
        )
        pq.write_table(pa.table({c: [i] for c in cols}, schema=arrow),
                       os.path.join(tdir, f"{name}.parquet"))
    open(os.path.join(tdir, "_SUCCESS"), "w").close()
    _assert_parity(spark, tdir)


def test_resolver_equals_spark_merge_on_mixed_vintage(spark, bags, tmp_path):
    """A per-type table whose files differ because an evolve append
    brought a definition that gained a field: the resolver equals Spark's
    merge, `bag_index` stays after `data` in the merged order, and the
    provenance read serves the new field beside the older rows."""
    out = str(tmp_path / "lay")
    convert_bags(spark, [bags[0]], out)
    grown = IMU_DEF.replace(
        "linear_acceleration_covariance\n",
        "linear_acceleration_covariance\nuint32 extra\n", 1,
    )
    c = str(tmp_path / "c.sbag")
    imu = _imu_payload(SEQ, STAMP, FRAME, QUAT, ANGVEL, LINACC)
    write_bag(
        c,
        [ConnectionInfo(1, "/imu", "sensor_msgs/Imu", "imu_md5_v2", grown)],
        [(1, 7_000, imu + struct.pack("<I", 7))],
    )
    convert_bags(spark, [c], out, mode="append", evolve=True)
    tdir = os.path.join(out, "sensor_msgs_Imu")
    assert len({tuple(pq.read_schema(f).names) for f in _data_files(tdir)}) == 2
    _assert_parity(spark, tdir)
    names = footer_schema(spark, tdir, merge=True).names
    assert names.index("bag_index") > names.index("data")
    rows = pertype_with_provenance(spark, out, "sensor_msgs_Imu").collect()
    assert sorted((r.seqno, r.bag, r.extra) for r in rows) == [
        (0, "a.bag", None), (2, "a.bag", None), (3, "c.sbag", 7)
    ]


def test_resolver_reads_footers_without_spark_keys(spark, fleet_layout, tmp_path):
    """Files without Spark's schema key — a layout written before the
    footer-key fix, an external pyarrow table, or a table mixing both —
    resolve from their Parquet schemas to Spark's own answer; a type
    outside the resolver's mapped set is inferred through Spark."""
    out = str(tmp_path / "prefix")
    shutil.copytree(fleet_layout, out)
    for table in _tables(out):
        for f in _data_files(os.path.join(out, table)):
            t = pq.read_table(f).replace_schema_metadata(None)
            pq.write_table(t, f, store_schema=False,
                           use_deprecated_int96_timestamps=True)
            assert pq.read_metadata(f).metadata is None
    for table in _tables(out):
        _assert_parity(spark, os.path.join(out, table))
    got = sorted(tuple(r) for r in layout_info(spark, out).collect())
    assert got == sorted(tuple(r) for r in layout_info(spark, fleet_layout).collect())

    ext = str(tmp_path / "external")
    os.makedirs(ext)
    pq.write_table(pa.table({"x": [1, 2], "y": ["a", "b"]}),
                   os.path.join(ext, "part-0.parquet"))
    _assert_parity(spark, ext)
    # one keyed file beside a key-less one: each file's own schema, merged
    keyed = _data_files(os.path.join(fleet_layout, "Stats"))[0]
    shutil.copy(keyed, os.path.join(out, "Stats", "part-zzz.parquet"))
    _assert_parity(spark, os.path.join(out, "Stats"))
    # a TIME column beside them: Spark decides (and refuses)
    pq.write_table(pa.table({"x": [3], "t": pa.array([1], pa.time64("us"))}),
                   os.path.join(ext, "part-1.parquet"))
    assert footer_schema(spark, ext, merge=True) is None


def test_resolver_refuses_conflicting_types_without_a_job(spark, tmp_path):
    """Two keyed files that disagree on a column's type: the merge is
    refused as Spark refuses it, and the append guard turns that into its
    structured error — from the footers, with no Spark job."""
    tdir = str(tmp_path / "conflict")
    os.makedirs(tdir)
    for name, typ, arrow_typ, vals in (
        ("part-0", T.LongType(), pa.int64(), [1]),
        ("part-1", T.StringType(), pa.string(), ["a"]),
    ):
        schema = T.StructType([T.StructField("x", typ, True)])
        pq.write_table(
            pa.table({"x": pa.array(vals, arrow_typ)}).replace_schema_metadata(
                {lw.SPARK_SCHEMA_KEY: schema.json()}
            ),
            os.path.join(tdir, f"{name}.parquet"),
        )
    with pytest.raises(Exception, match="(?i)merg"):
        _spark_merged(spark, tdir)
    before = _last_job(spark)
    with pytest.raises(ValueError, match="failed to merge"):
        footer_schema(spark, tdir, merge=True)
    with pytest.raises(ValueError, match="never\\s+silently coerced"):
        _read_existing_schema(spark, tdir)
    assert _jobs_since(spark, before) == 0


def test_layout_info_runs_no_job(spark, fleet_layout):
    before = _last_job(spark)
    rows = layout_info(spark, fleet_layout).collect()
    assert _jobs_since(spark, before) == 0
    total = [r for r in rows if r.datatype == "<all>"]
    assert len(total) == 1 and total[0].n_msgs == 6


def test_provenance_plans_without_a_job(spark, fleet_layout):
    """Planning the provenance read starts no job; the answer still
    names each row's bag."""
    before = _last_job(spark)
    df = pertype_with_provenance(spark, fleet_layout, "nav_msgs_Gps")
    read_layout_table(spark, fleet_layout, "Messages")
    assert _jobs_since(spark, before) == 0
    got = sorted((r.seqno, r.bag) for r in df.collect())
    assert got == [(1, "a.bag"), (3, "b.sbag"), (5, "b.sbag")]


def _names_by_join(spark, layout: str, table: str):
    """The name resolve as a broadcast left join against the Bags
    manifest's distinct (bag_index, bag) pairs."""
    from pyspark.sql import functions as F

    dim = (
        spark.read.parquet(os.path.join(layout, "Bags"))
        .select("bag_index", "bag").distinct()
    )
    return read_layout_table(spark, layout, table).join(
        F.broadcast(dim), "bag_index", "left"
    )


def _side_car(layout: str, table: str, rows: list) -> None:
    """Replace a side-car table of ``layout`` by one file of ``rows``
    ((bag_index, bag) pairs; the other columns filled)."""
    schema = lw.arrow_schema(T.StructType.fromDDL(_SIDECAR_SCHEMAS[table]), "4.1.2")
    d = os.path.join(layout, table)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    pq.write_table(
        pa.Table.from_pylist(
            [
                {"bag_index": i, "bag": b, "path": b, "format": "rosbag",
                 "name": b, "key": "k", "value": "v"}
                for i, b in rows
            ],
            schema=schema,
        ),
        os.path.join(d, "part-00000.parquet"),
    )


def test_provenance_names_equal_the_left_join(spark, fleet_layout, tmp_path):
    """The literal name lookup answers what the broadcast left join did:
    the same column order, one row per name of a two-name ordinal, NULL
    for an ordinal the manifest does not name — and a query over it runs 2 jobs."""
    from pyspark.sql import functions as F

    lay = str(tmp_path / "lay")
    shutil.copytree(fleet_layout, lay)
    # ordinal 0 named twice, ordinal 1 unnamed
    _side_car(lay, "Bags", [(0, "alias.bag"), (0, "a.bag"), (0, "a.bag")])
    for table in ("nav_msgs_Gps", "sensor_msgs_Imu"):
        got = pertype_with_provenance(spark, lay, table)
        want = _names_by_join(spark, lay, table)
        assert got.columns == want.columns
        assert got.columns[0] == "bag_index" and got.columns[-1] == "bag"
        rows = sorted(tuple(r) for r in got.collect())
        assert rows == sorted(tuple(r) for r in want.collect())
    gps = sorted(
        (r.seqno, r.bag)
        for r in pertype_with_provenance(spark, lay, "nav_msgs_Gps").collect()
    )
    assert gps == [(1, "a.bag"), (1, "alias.bag"), (3, None), (5, None)]

    query = (
        pertype_with_provenance(spark, lay, "nav_msgs_Gps")
        .where(F.col("seqno").between(0, 4)).groupBy("bag").count()
    )
    before = _last_job(spark)
    got = sorted(query.collect(), key=lambda r: (r.bag is None, r.bag or ""))
    assert _jobs_since(spark, before) == 2
    assert [(r.bag, r["count"]) for r in got] == [
        ("a.bag", 1), ("alias.bag", 1), (None, 1)
    ]


def test_provenance_over_a_large_name_dim(spark, fleet_layout, tmp_path):
    """A 10,000-bag name dim resolves in one folded literal: the query
    stays under a second and still names each row's bag."""
    import time

    from pyspark.sql import functions as F

    lay = str(tmp_path / "lay")
    shutil.copytree(fleet_layout, lay)
    _side_car(lay, "Bags", [(i, f"bag{i:05d}.bag") for i in range(10_000)])

    def query():
        return (
            pertype_with_provenance(spark, lay, "nav_msgs_Gps")
            .groupBy("bag").count().collect()
        )

    query()
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        got = query()
        runs.append(time.perf_counter() - t0)
    assert min(runs) < 1.0, runs
    assert sorted((r.bag, r["count"]) for r in got) == [
        ("bag00000.bag", 1), ("bag00001.bag", 2)
    ]
