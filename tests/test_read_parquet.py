"""The package's one Parquet read path (`sources.catalog.read_parquet`):
its footer schema resolver against Spark's own inference over a matrix of
Parquet types, the footer and table memos across a rewrite, and the Spark
jobs the fixture reads start."""

import datetime
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rosbag2parquet_spark.sources import catalog
from rosbag2parquet_spark.sources.catalog import (
    footer_schema,
    load_table,
    nanos_columns,
    read_parquet,
    register_views,
)
from tests.conftest import SF_DIR
from tests.test_layout_write import _jobs_since, _last_job

_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"
_NANOS = "spark.sql.legacy.parquet.nanosAsLong"
_BIN = "spark.sql.parquet.binaryAsString"
_CASE = "spark.sql.caseSensitive"

_TS = [datetime.datetime(2024, 1, 2, 3, 4, 5, 678901), None]
_TZ = [datetime.datetime(2024, 1, 2, 3, 4, 5, 678901, tzinfo=datetime.timezone.utc), None]


def _ts(unit: str, tz: "str | None") -> pa.Array:
    return pa.array(_TZ if tz else _TS, pa.timestamp("us", tz)).cast(
        pa.timestamp(unit, tz), safe=False
    )


#: name -> (arrow array, write_table options, whether the resolver maps it)
MATRIX = {
    "bool": (pa.array([True, None]), {}, True),
    "int8": (pa.array([1, None], pa.int8()), {}, True),
    "int16": (pa.array([1, None], pa.int16()), {}, True),
    "int32": (pa.array([1, None], pa.int32()), {}, True),
    "int64": (pa.array([1, None], pa.int64()), {}, True),
    "uint8": (pa.array([255, None], pa.uint8()), {}, True),
    "uint16": (pa.array([65535, None], pa.uint16()), {}, True),
    "uint32": (pa.array([2**32 - 1, None], pa.uint32()), {}, True),
    "uint64": (pa.array([2**64 - 1, None], pa.uint64()), {}, True),
    "float": (pa.array([1.5, None], pa.float32()), {}, True),
    "double": (pa.array([1.5, None], pa.float64()), {}, True),
    "string": (pa.array(["a", None]), {}, True),
    "large_string": (pa.array(["a", None], pa.large_string()), {}, True),
    "dict_string": (pa.array(["a", "a", None]).dictionary_encode(), {}, True),
    "binary": (pa.array([b"\x00\x01", None]), {}, True),
    "fixed_size_binary": (pa.array([b"abcd", None], pa.binary(4)), {}, True),
    "date32": (pa.array([datetime.date(2024, 1, 2), None]), {}, True),
    "decimal_9": (pa.array([decimal.Decimal("1.25"), None], pa.decimal128(9, 2)), {}, True),
    "decimal_18": (pa.array([decimal.Decimal("1.25"), None], pa.decimal128(18, 2)), {}, True),
    "decimal_38": (pa.array([decimal.Decimal("1.25"), None], pa.decimal128(38, 2)), {}, True),
    **{
        f"ts_{unit}{'_utc' if tz else ''}": (_ts(unit, tz), {}, True)
        for unit in ("s", "ms", "us", "ns") for tz in (None, "UTC")
    },
    "int96": (_ts("ns", None), {"use_deprecated_int96_timestamps": True}, True),
    "time32": (pa.array([1000, None], pa.time32("ms")), {}, False),
    "time64": (pa.array([1000, None], pa.time64("us")), {}, False),
    "duration": (pa.array([1000, None], pa.duration("us")), {}, True),
    "null": (pa.nulls(2), {}, False),
    "struct": (pa.array([{"a": 1, "b": "x"}, None]), {}, True),
    "list_int": (pa.array([[1, None], None]), {}, True),
    "list_struct": (pa.array([[{"a": 1, "b": "x"}], None]), {}, True),
    "list_list": (pa.array([[[1, 2], None], None]), {}, True),
    "map": (pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int32())), {}, True),
    "legacy_list": (pa.array([[1, None], None]), {"use_compliant_nested_type": False}, True),
}


def _spark_schema(spark, path: str):
    """Spark's own inference, or the exception it raises."""
    try:
        return spark.read.parquet(path).schema
    except Exception as e:  # noqa: BLE001 - any refusal counts
        return e


@pytest.fixture
def confs(spark):
    """Restore the session's Parquet read settings after a test flips
    them."""
    keys = (_NTZ, _NANOS, _BIN, _CASE)
    saved = {k: spark.conf.get(k) for k in keys}
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def _settings():
    for ntz in ("false", "true"):
        for nanos in ("false", "true"):
            yield {_NTZ: ntz, _NANOS: nanos, _BIN: "false"}
    yield {_NTZ: "false", _NANOS: "true", _BIN: "true"}


def test_resolver_matches_spark_over_the_type_matrix(spark, confs, tmp_path):
    """Per file and per setting: the resolver returns Spark's schema or
    None, never a different one, and None only outside its mapped set or
    where Spark itself refuses the file."""
    paths = {}
    for name, (arr, opts, _) in MATRIX.items():
        p = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({"id": pa.array([1, 2, 3][:len(arr)]), "c": arr}), p, **opts)
        paths[name] = p
    resolved = set()
    for setting in _settings():
        for k, v in setting.items():
            spark.conf.set(k, v)
        for name, p in paths.items():
            want = _spark_schema(spark, p)
            got = footer_schema(spark, p)
            if isinstance(want, Exception):
                assert got is None, (name, setting, want)
                continue
            assert got is None or got == want, (name, setting, got, want)
            if got is not None:
                resolved.add(name)
            elif MATRIX[name][2]:
                pytest.fail(f"{name} unresolved under {setting}: Spark gives {want}")
    assert resolved == {n for n, m in MATRIX.items() if m[2]}


def test_resolver_needs_one_schema_for_a_plain_directory_read(spark, tmp_path):
    """Files that disagree on schema: a plain read is Spark's to infer, a
    merged read resolves to Spark's merge."""
    d = str(tmp_path / "t")
    os.makedirs(d)
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), os.path.join(d, "part-0.parquet"))
    pq.write_table(pa.table({"a": [2], "c": [1.5]}), os.path.join(d, "part-1.parquet"))
    assert footer_schema(spark, d) is None
    assert read_parquet(spark, d).schema == spark.read.parquet(d).schema
    merged = spark.read.option("mergeSchema", "true").parquet(d).schema
    assert footer_schema(spark, d, merge=True) == merged
    assert read_parquet(spark, d, merge=True).schema == merged
    assert sorted(tuple(r) for r in read_parquet(spark, d, merge=True).collect()) == [
        (1, "x", None), (2, None, 1.5)
    ]
    # agreeing files resolve for a plain read too
    e = str(tmp_path / "same")
    os.makedirs(e)
    for i in range(2):
        pq.write_table(pa.table({"a": [i]}), os.path.join(e, f"part-{i}.parquet"))
    assert footer_schema(spark, e) == spark.read.parquet(e).schema


def test_resolver_follows_the_session_case_rule(spark, confs, tmp_path):
    """Columns ``a`` and ``A``: Spark refuses them case-insensitively
    (so the resolver leaves the read to Spark) and reads both
    case-sensitively."""
    p = str(tmp_path / "case.parquet")
    pq.write_table(pa.table({"a": [1], "A": ["x"]}), p)
    for cs in ("false", "true"):
        spark.conf.set(_CASE, cs)
        want = _spark_schema(spark, p)
        got = footer_schema(spark, p)
        if cs == "false":
            assert isinstance(want, Exception) and got is None
        else:
            assert got == want and want.names == ["a", "A"]


@pytest.mark.parametrize("name", ["time64", "null"])
def test_unmapped_type_reads_through_load_table(spark, tmp_path, name):
    """A table the resolver leaves to Spark still loads, as Spark reads
    it."""
    arr = MATRIX[name][0]
    d = tmp_path / "sf"
    d.mkdir()
    p = str(d / "events.parquet")
    pq.write_table(pa.table({"event_id": pa.array([1, 2], pa.int64()), "c": arr}), p)
    assert footer_schema(spark, p) is None
    want = _spark_schema(spark, p)
    if isinstance(want, Exception):
        with pytest.raises(Exception):
            load_table(spark, str(d), "events").collect()
        return
    df = load_table(spark, str(d), "events")
    assert df.schema == want
    assert sorted(r.event_id for r in df.collect()) == [1, 2]


def test_footer_memo_follows_a_rewrite(spark, tmp_path):
    """`events.ts` rewritten at the same path from TIMESTAMP(NANOS) to
    microseconds: the second load sees the new footer, not the old
    one."""
    p = str(tmp_path / "events.parquet")
    ts = [datetime.datetime(2024, 1, 2, 3, 4, 5, 678901)]
    for unit in ("ns", "us"):
        pq.write_table(
            pa.table({
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")).cast(pa.timestamp(unit)),
            }),
            p,
        )
        assert nanos_columns(p) == (("ts",) if unit == "ns" else ())
        rows = load_table(spark, str(tmp_path), "events").collect()
        assert [r.ts for r in rows] == ts


def test_table_memo_follows_a_rewrite(spark, tmp_path):
    """`load_table` hands back the same DataFrame while the table's files
    are unchanged, and the new rows once a file is rewritten in place or
    a file is added."""
    d = tmp_path / "region.parquet"
    d.mkdir()

    def write(name: str, keys: list) -> None:
        pq.write_table(
            pa.table({"r_regionkey": pa.array(keys, pa.int64()),
                      "r_name": pa.array([f"r{k}" for k in keys])}),
            str(d / name),
        )

    def keys(df) -> list:
        return sorted(r.r_regionkey for r in df.collect())

    write("part-0.parquet", [1, 2])
    first = load_table(spark, str(tmp_path), "region")
    assert keys(first) == [1, 2]
    assert load_table(spark, str(tmp_path), "region") is first
    write("part-0.parquet", [3, 4, 5])
    assert keys(load_table(spark, str(tmp_path), "region")) == [3, 4, 5]
    write("part-1.parquet", [6])
    assert keys(load_table(spark, str(tmp_path), "region")) == [3, 4, 5, 6]


def test_table_memo_follows_the_schema_conf(spark, confs, tmp_path):
    """A conf change that changes the resolved schema gets a new
    DataFrame; a table Spark infers is never memoized."""
    p = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({"doc_id": pa.array([1], pa.int64()),
                             "body": pa.array([b"x"])}), p)
    as_binary = load_table(spark, str(tmp_path), "documents")
    spark.conf.set(_BIN, "true")
    as_string = load_table(spark, str(tmp_path), "documents")
    assert as_string is not as_binary
    assert as_string.schema["body"].dataType.simpleString() == "string"
    assert as_string.collect()[0].body == "x"

    part = tmp_path / "events.parquet" / "k=1"  # partitioned: Spark infers
    part.mkdir(parents=True)
    pq.write_table(pa.table({"event_id": pa.array([1], pa.int64())}),
                   str(part / "part-0.parquet"))
    inferred = load_table(spark, str(tmp_path), "events")
    assert inferred.columns == ["event_id", "k"]
    assert load_table(spark, str(tmp_path), "events") is not inferred


def test_fixture_reads_start_no_job(spark):
    """Every fixture table loads, and every view registers, without a
    Spark job; each answer is Spark's own inference."""
    catalog._read_footer.cache_clear()
    before = _last_job(spark)
    frames = {t: load_table(spark, SF_DIR, t) for t in catalog.TABLES}
    register_views(spark, SF_DIR)
    assert _jobs_since(spark, before) == 0
    for t, df in frames.items():
        raw = spark.read.parquet(catalog.table_path(SF_DIR, t)).schema
        assert [f.name for f in df.schema] == raw.names
        assert spark.table(t).schema == df.schema


def test_spark_written_directory_plans_without_a_job(spark, tmp_path):
    """A directory Spark wrote (the stored rollup, the persisted ANN
    index's codes): every part file carries Spark's key, so the read plans
    from the footers and answers as Spark's own read does."""
    d = str(tmp_path / "codes")
    spark.range(6).selectExpr("id", "cast(id % 3 as int) as cluster",
                              "array(id, id + 1) as codes").repartition(3) \
        .write.parquet(d)
    before = _last_job(spark)
    df = read_parquet(spark, d)
    assert _jobs_since(spark, before) == 0
    assert df.schema == spark.read.parquet(d).schema
    assert sorted(r.id for r in df.collect()) == list(range(6))
