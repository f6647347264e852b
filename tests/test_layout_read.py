"""Layout reads planned on the driver: the footer keys every bag-convert
file carries, the schema resolver built on them (`convert.footer_schema`)
against Spark's own mergeSchema inference on every layout vintage, and
the Spark jobs the layout readers start."""

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
    convert_bag,
    convert_bags,
    footer_schema,
    pertype_with_provenance,
    read_layout_table,
    table_schema,
)
from rosbag2parquet_spark.info import layout_info
from rosbag2parquet_spark.sources.baglike import ConnectionInfo, write_bag
from rosbag2parquet_spark.sources.container import CONN_SCHEMA
from rosbag2parquet_spark.sources.rosbag import write_rosbag
from tests.test_baglike import ANGVEL, FRAME, LINACC, QUAT, SEQ, STAMP, _imu_payload
from tests.test_convert_bag import GPS_DEF, _gps_payload
from tests.test_layout_write import _jobs_since, _last_job
from tests.test_msgdef import IMU_DEF

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


def _assert_parity(spark, table_dir: str, planned: bool = True) -> None:
    """The resolver's schema equals Spark's mergeSchema inference, field
    order included, and (``planned``) comes from the footers alone."""
    want = _spark_merged(spark, table_dir)
    got = footer_schema(spark, table_dir)
    if planned:
        assert got == want, table_dir
    else:
        assert got is None, table_dir
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
    """A stamp-less per-type table evolve-appended into (the
    `_bag_index_mixed` vintage): Spark-written old files, converter-written
    new ones, and `bag_index` after `data` in the merged order the
    provenance reader dispatches on."""
    out = str(tmp_path / "lay")
    convert_bags(spark, [bags[0]], out)
    tdir = os.path.join(out, "sensor_msgs_Imu")
    legacy = spark.read.parquet(tdir).drop("bag_index").localCheckpoint(eager=True)
    shutil.rmtree(tdir)
    legacy.write.parquet(tdir)
    convert_bags(spark, [bags[1]], out, mode="append", evolve=True)
    assert os.path.isfile(os.path.join(tdir, "_bag_index_mixed"))
    _assert_parity(spark, tdir)
    names = footer_schema(spark, tdir).names
    assert names.index("bag_index") > names.index("data")


def test_resolver_falls_back_without_footer_keys(spark, fleet_layout, tmp_path):
    """Files without Spark's schema key — a layout written before the
    footer-key fix, an external pyarrow table, or a table mixing both —
    are inferred through Spark, with the same answer."""
    out = str(tmp_path / "prefix")
    shutil.copytree(fleet_layout, out)
    for table in _tables(out):
        for f in _data_files(os.path.join(out, table)):
            t = pq.read_table(f).replace_schema_metadata(None)
            pq.write_table(t, f, store_schema=False,
                           use_deprecated_int96_timestamps=True)
            assert pq.read_metadata(f).metadata is None
    for table in _tables(out):
        _assert_parity(spark, os.path.join(out, table), planned=False)
    got = sorted(tuple(r) for r in layout_info(spark, out).collect())
    assert got == sorted(tuple(r) for r in layout_info(spark, fleet_layout).collect())

    ext = str(tmp_path / "external")
    os.makedirs(ext)
    pq.write_table(pa.table({"x": [1, 2], "y": ["a", "b"]}),
                   os.path.join(ext, "part-0.parquet"))
    _assert_parity(spark, ext, planned=False)
    # one keyed file beside a key-less one: Spark decides
    keyed = _data_files(os.path.join(fleet_layout, "Stats"))[0]
    shutil.copy(keyed, os.path.join(out, "Stats", "part-zzz.parquet"))
    _assert_parity(spark, os.path.join(out, "Stats"), planned=False)


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
        footer_schema(spark, tdir)
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
