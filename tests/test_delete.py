"""Copy-on-write DELETE WHERE (`sinks.delete_where`): only files that
CONTAIN matches are rewritten — untouched files stay byte-identical,
all-match files are removed outright, replacements wait in the table's
``_staging-<uuid>/`` dir until `layout_write.publish_table` renames each
over its original, and a crashed run's staging dir is dropped by the next
write. The oracle-level value check is the `delete-rows` driver query."""

import hashlib
import os

import pytest

from pyspark.sql import functions as F

from rosbag2parquet_spark.sinks import delete_where


def _files(root):
    out = {}
    for r, _d, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(r, f)
                out[p] = hashlib.md5(open(p, "rb").read()).hexdigest()
    return out


def _mklayout(spark, path, partitioned=True):
    df = spark.range(400).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("grp"),
        (F.col("id") * 2.5).alias("v"),
    )
    w = df.repartitionByRange(4, "id").write
    if partitioned:
        w = w.partitionBy("grp")
    w.parquet(path)


def test_only_matching_files_rewritten(spark, tmp_path):
    lay = str(tmp_path / "lay")
    _mklayout(spark, lay)
    before = _files(lay)
    # ids 0..99 live in specific files; predicate hits a subset of files
    res = delete_where(spark, lay, F.col("id") < 50)
    after = _files(lay)

    assert res["rows_deleted"] == 50
    assert res["files_matched"] == res["files_rewritten"] + res["files_removed"]
    # ids are RANGE-partitioned into 4 task ranges then split by grp dir:
    # only the first range's files contain ids < 50 — everything else must
    # be byte-identical (rewritten files keep their path, so compare md5)
    changed = {p for p in set(before) & set(after) if before[p] != after[p]}
    removed = set(before) - set(after)
    assert len(changed) == res["files_rewritten"]
    assert len(removed) == res["files_removed"]
    assert 0 < res["files_matched"] < len(before)  # a strict file subset
    untouched = set(before) - changed - removed
    assert len(untouched) == len(before) - res["files_matched"]
    # values: complement select
    got = sorted(r.id for r in spark.read.parquet(lay).collect())
    assert got == list(range(50, 400))
    # no staging leftovers
    assert not [
        d for _r, ds, _f in os.walk(lay) for d in ds if d.startswith("_staging-")
    ]
    # re-run: nothing matches, pure no-op
    res2 = delete_where(spark, lay, F.col("id") < 50)
    assert res2 == {
        "files_matched": 0, "files_rewritten": 0,
        "files_removed": 0, "rows_deleted": 0,
    }
    assert _files(lay) == after


def test_all_match_file_removed_and_partition_predicate(spark, tmp_path):
    """A predicate on the hive PARTITION column matches every row of that
    partition's files — they are removed, not rewritten (the TTL shape:
    dropping an expired partition costs zero data writes)."""
    lay = str(tmp_path / "lay")
    _mklayout(spark, lay)
    res = delete_where(spark, lay, F.col("grp") == "2")
    assert res["rows_deleted"] == 100
    assert res["files_removed"] == res["files_matched"] > 0
    assert res["files_rewritten"] == 0
    left = spark.read.parquet(lay)
    assert left.filter(F.col("grp") == "2").count() == 0
    assert left.count() == 300


def test_stale_crash_leftovers_swept(spark, tmp_path):
    """A delete that crashed before its publish leaves replacements in the
    table's staging dir: readers never list them, and the next delete
    drops the dir before it stages its own."""
    from rosbag2parquet_spark.sources.catalog import read_parquet

    lay = str(tmp_path / "lay")
    _mklayout(spark, lay, partitioned=False)
    victim = sorted(f for f in os.listdir(lay) if f.endswith(".parquet"))[0]
    stale = os.path.join(lay, "_staging-0123abcd")
    os.makedirs(stale)
    open(os.path.join(stale, victim), "wb").write(b"garbage from a crashed run")
    assert spark.read.parquet(lay).count() == 400
    assert read_parquet(spark, lay).count() == 400
    res = delete_where(spark, lay, F.col("id") == 7)
    assert not os.path.exists(stale)
    assert res["rows_deleted"] == 1
    assert spark.read.parquet(lay).count() == 399


def test_flat_layout_and_schema_fidelity(spark, tmp_path):
    """Non-partitioned layout: replacement files carry the original
    physical schema (pyarrow cast), so the surviving table reads back
    with identical dtypes."""
    lay = str(tmp_path / "lay")
    _mklayout(spark, lay, partitioned=False)
    before_types = dict(spark.read.parquet(lay).dtypes)
    delete_where(spark, lay, (F.col("id") % 10 == 0) & (F.col("v") < 500))
    df = spark.read.parquet(lay)
    assert dict(df.dtypes) == before_types
    deleted = [i for i in range(400) if i % 10 == 0 and i * 2.5 < 500]
    assert df.count() == 400 - len(deleted)
    assert df.filter((F.col("id") % 10 == 0) & (F.col("v") < 500)).count() == 0


def test_nullable_and_timestamp_fidelity(spark, tmp_path):
    """The rewrite is Arrow END-TO-END: nullable bigint columns (a pandas
    hop would degrade them to float64) and timestamp columns survive a
    delete with exact types and values."""
    from datetime import datetime, timezone

    lay = str(tmp_path / "lay")
    rows = [
        (i,
         None if i % 5 == 0 else i * 100,
         datetime(2024, 1, 1, 0, 0, i % 60, tzinfo=timezone.utc))
        for i in range(60)
    ]
    spark.createDataFrame(
        rows, "id bigint, maybe bigint, ts timestamp"
    ).repartitionByRange(3, "id").write.parquet(lay)
    before_types = dict(spark.read.parquet(lay).dtypes)

    res = delete_where(spark, lay, F.col("id") % 4 == 1)
    assert res["rows_deleted"] == 15
    df = spark.read.parquet(lay)
    assert dict(df.dtypes) == before_types
    got = {r.id: (r.maybe, r.ts) for r in df.collect()}
    assert len(got) == 45
    for i, (maybe, ts) in got.items():
        assert i % 4 != 1
        assert maybe == (None if i % 5 == 0 else i * 100)
        assert ts.second == i % 60


def test_vacuum_removes_artifacts_repairs_swaps(spark, tmp_path):
    """vacuum_layout removes exactly the known artifact classes
    (_temporary staging, orphan .crc, a leftover ``_staging-*`` dir),
    REPAIRS an interrupted partition swap instead of deleting it (the
    aside copy may be the only live one), leaves content untouched, and
    is idempotent."""
    from rosbag2parquet_spark import layout_write as lw
    from rosbag2parquet_spark.sinks import vacuum_layout

    lay = str(tmp_path / "lay")
    df = spark.range(40).selectExpr(
        "id", "CAST(id % 2 AS STRING) AS part"
    )
    df.write.partitionBy("part").parquet(lay)
    want = set(range(40))

    # plant the three removable classes
    os.makedirs(os.path.join(lay, "_temporary", "0"))
    open(os.path.join(lay, "_temporary", "0", "junk"), "w").write("x")
    open(os.path.join(lay, ".ghost.parquet.crc"), "w").write("x")
    os.makedirs(os.path.join(lay, "_staging-0123abcd", "part=0"))
    open(os.path.join(lay, "_staging-0123abcd", "part=0", "p.parquet"), "w").write("x")
    # a KEPT .crc: Hadoop's LocalFileSystem already wrote real sidecars
    # for the data files (and validates them on read — planting a fake
    # one would poison the read, the exact failure stale sidecars cause)
    keep_crcs = [
        f for f in os.listdir(os.path.join(lay, "part=0"))
        if f.startswith(".") and f.endswith(".crc")
    ]
    assert keep_crcs
    # a swap that died after its rename-aside: the live dir moved away
    part1 = os.path.join(lay, "part=1")
    os.rename(part1, lw.aside_dir(part1))
    # an unknown file must NEVER be touched, hidden or not (hidden here
    # so Spark's reader also ignores it)
    open(os.path.join(lay, ".mystery.tmp"), "w").write("keep me")

    listed = vacuum_layout(lay, dry_run=True)
    assert [p for p in listed if p.startswith("repair:")] == ["repair:" + part1]
    assert os.path.isdir(lw.aside_dir(part1))

    acted = vacuum_layout(lay)
    assert sorted(acted) == sorted(listed)
    assert len(acted) == 4  # 3 removals + 1 repair
    assert not os.path.exists(os.path.join(lay, "_temporary"))
    assert not os.path.exists(os.path.join(lay, ".ghost.parquet.crc"))
    assert not os.path.exists(os.path.join(lay, "_staging-0123abcd"))
    assert os.path.isdir(part1)  # rolled back
    assert not os.path.exists(lw.aside_dir(part1))
    assert sorted(
        f for f in os.listdir(os.path.join(lay, "part=0"))
        if f.startswith(".") and f.endswith(".crc")
    ) == sorted(keep_crcs)
    assert os.path.exists(os.path.join(lay, ".mystery.tmp"))
    got = {r.id for r in spark.read.parquet(lay).collect()}
    assert got == want
    assert vacuum_layout(lay) == []


def test_vacuum_single_pass_and_repair_dedupe(spark, tmp_path, monkeypatch):
    """A compaction killed after its rename-aside leaves two artifacts for
    one partition: the aside copy and the staging dir holding the new
    files (with Spark's ``.crc`` sidecars). Vacuum reports ONE repair,
    keyed by the live partition, plus the staging dir, rolls the
    partition back in a single pass, and a second run finds nothing."""
    from types import SimpleNamespace

    from rosbag2parquet_spark.sinks import vacuum_layout
    from rosbag2parquet_spark.streaming import compaction_service as cs
    from tests.conftest import Crash, crash_after_rename

    lay = str(tmp_path / "lay")
    df = spark.range(20).selectExpr("id", "CAST(id % 2 AS STRING) AS part")
    df.repartition(4).write.partitionBy("part").parquet(lay)
    part1 = os.path.join(lay, "part=1")
    before = {
        f: open(os.path.join(part1, f), "rb").read()
        for f in os.listdir(part1) if f.endswith(".parquet")
    }
    # a kill runs no cleanup: the service's own staging removal is off
    monkeypatch.setattr(cs, "shutil", SimpleNamespace(rmtree=lambda *a, **k: None))
    crash_after_rename(monkeypatch, lambda src, dst: src == part1)
    with pytest.raises(Crash):
        cs.compact_fragmented_partitions(spark, lay, max_files_per_partition=1)
    monkeypatch.undo()
    (staging,) = [d for d in os.listdir(lay) if d.startswith("_staging-")]
    assert [
        f for _r, _d, fs in os.walk(os.path.join(lay, staging))
        for f in fs if f.endswith(".crc")
    ]

    listed = vacuum_layout(lay, dry_run=True)
    assert sorted(listed) == sorted(
        ["repair:" + part1, os.path.join(lay, staging)]
    )
    assert vacuum_layout(lay) == listed
    assert vacuum_layout(lay) == []  # single-pass: nothing left
    assert {
        f: open(os.path.join(part1, f), "rb").read()
        for f in os.listdir(part1) if f.endswith(".parquet")
    } == before
    got = {r.id for r in spark.read.parquet(lay).collect()}
    assert got == set(range(20))
