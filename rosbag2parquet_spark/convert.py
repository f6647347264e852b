"""The end-to-end converter — the reference's whole program, Spark-first.

Reference lifecycle (``rosbag2parquet()``, rosbag2parquet.cpp:41-63 +
FlattenedRosWriter.cpp): scan the log once; per message emit metadata into
``Messages``; route the payload to a lazily-created per-type table with
flattened columns; attach ``connection_id`` and the raw blob; at close, write
``Connections`` and flush every table as SNAPPY parquet.

Spark formulation — one declarative DAG instead of a fused imperative loop:

- the "bag" is any DataFrame with (time, type, connection, payload) columns
  (fixtures: the ``events`` table — FIXTURES.md §3);
- global ``seqno`` via the scalable two-pass plan (operators.keys);
- ``Connections`` is a tiny dim distilled from the stream (distinct keys →
  dense ids via a broadcast-joined lookup);
- per-type demux is ONE partitioned write (``partitionBy(datatype)``) — the
  distributed analog of the reference's ``m_pertype`` routing map
  (FlattenedRosWriter.cpp:273-289): each output partition directory is a
  per-type table, and readers get partition pruning for free (the reference's
  "don't scan lidar to read GPS" goal, README.md:2-4);
- row-group sizing: the reference buffers 255 MB then flushes
  (TableBuffer.h:32, TableBuffer.cpp:164-174); Spark's parquet writer does
  the same internally — the writer caps files at ``maxRecordsPerFile``
  instead of reimplementing buffering.

Returns the same summary the reference's library API returns
(``info{bagname, count, size}``, rosbag2parquet.h:6-10).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rosbag2parquet_spark import layout_write as lw
from rosbag2parquet_spark.plans.ddl import load_script
from rosbag2parquet_spark.sources.container import (
    ConnRow,
    ScanPlan,
    ingest_cursor,
    open_bag,
    plan_scan,
    raise_count_error,
    resume_start,
    sidecar_rows,
    split_job,
)
from rosbag2parquet_spark.sources.msgdef import table_name_for_type


@dataclass
class ConvertInfo:
    """Reference `info` struct (rosbag2parquet.h:6-10)."""

    bagname: str
    count: int
    size: float


def schema_fingerprint(schema) -> str:
    """md5 over the canonical (name, type) column list — the engine's analog
    of the reference's per-type md5sum identity (`assert(msg.getMD5Sum() ==
    iter->second.md5sum)`, FlattenedRosWriter.cpp:287): two datasets may
    share a table only if their schemas are identical. Nullability and
    metadata are excluded: parquet round-trips them lossily (everything
    reads back nullable), and the reference's md5 covers field layout, not
    constraints."""
    import hashlib

    canon = ";".join(f"{f.name}:{f.dataType.simpleString()}" for f in schema.fields)
    return hashlib.md5(canon.encode()).hexdigest()


class _AskSpark(Exception):
    """A footer merge only Spark's own rules settle (decimal precision,
    interval ranges, user-defined types)."""


def _merge_type(a: T.DataType, b: T.DataType, cs: bool) -> T.DataType:
    """Spark's ``StructType.merge`` rule for one column's two types."""
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        return _merge_struct(a, b, cs)
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(
            _merge_type(a.elementType, b.elementType, cs),
            a.containsNull or b.containsNull,
        )
    if isinstance(a, T.MapType) and isinstance(b, T.MapType):
        return T.MapType(
            _merge_type(a.keyType, b.keyType, cs),
            _merge_type(a.valueType, b.valueType, cs),
            a.valueContainsNull or b.valueContainsNull,
        )
    if a == b:
        return a
    if type(a) is type(b):
        raise _AskSpark
    raise ValueError(
        f"failed to merge incompatible data types {a.simpleString()} "
        f"and {b.simpleString()}"
    )


def _merge_struct(a: T.StructType, b: T.StructType, cs: bool) -> T.StructType:
    """``a.merge(b)`` as Spark does it: ``a``'s fields in order, each
    widened by ``b``'s same-named field, then ``b``'s new fields; names
    match case-insensitively unless ``cs``."""
    key = (lambda n: n) if cs else str.lower
    right = {key(f.name): f for f in b.fields}
    out = []
    for f in a.fields:
        g = right.get(key(f.name))
        if g is None:
            out.append(f)
            continue
        try:
            merged = _merge_type(f.dataType, g.dataType, cs)
        except ValueError as e:
            raise ValueError(f"failed to merge fields {f.name!r} and {g.name!r}: {e}") from e
        out.append(T.StructField(f.name, merged, f.nullable or g.nullable, f.metadata))
    left = {key(f.name) for f in a.fields}
    return T.StructType(out + [g for g in b.fields if key(g.name) not in left])


def _as_nullable(t: T.DataType) -> T.DataType:
    """Every field, element and map value nullable, as file sources read
    back (Spark's ``asNullable``)."""
    if isinstance(t, T.StructType):
        return T.StructType([
            T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in t.fields
        ])
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


def _data_files(table_dir: str) -> "list[str] | None":
    """The parquet files Spark lists for a table dir, in its order (sorted
    by name); None where planning needs Spark's own listing: a summary
    file, a subdirectory (partition columns), or no data file at all."""
    if not os.path.isdir(table_dir):
        return None
    files = []
    for name in sorted(os.listdir(table_dir)):
        if name.startswith(("_metadata", "_common_metadata")):
            return None
        if (
            (name.startswith("_") and "=" not in name)
            or name.startswith(".") or name.endswith("._COPYING_")
        ):
            continue  # hidden: markers, _SUCCESS, .crc files
        path = os.path.join(table_dir, name)
        if os.path.isdir(path):
            return None
        if os.path.getsize(path):
            files.append(path)
    return files or None


def _footer_struct(path: str) -> "T.StructType | None":
    """The Spark schema a file's footer key records, if it has one."""
    import pyarrow.parquet as pq

    try:
        raw = (pq.read_metadata(path).metadata or {}).get(
            lw.SPARK_SCHEMA_KEY.encode()
        )
        return None if raw is None else T.StructType.fromJson(json.loads(raw))
    except Exception:
        return None  # not parquet, or a key this client cannot parse


def footer_schema(spark: SparkSession, table_dir: str) -> "T.StructType | None":
    """A table's schema from its files' footers, read on the driver: what
    ``spark.read.option("mergeSchema", "true").parquet(table_dir).schema``
    infers, field order included, without the inference job. Each file's
    Spark schema key (`layout_write.SPARK_SCHEMA_KEY`) is merged in listing
    order by Spark's rule and every field made nullable; columns whose
    types conflict raise the ValueError Spark's merge would.

    None when only Spark can tell: a file without the key (an older layout
    or an externally written table), a partitioned or summarized dir, or a
    merge Spark widens by its own rules — the caller then infers through
    Spark."""
    files = _data_files(table_dir)
    if files is None:
        return None
    schemas = [_footer_struct(f) for f in files]
    if any(s is None for s in schemas):
        return None
    cs = spark.conf.get("spark.sql.caseSensitive").lower() == "true"
    merged = schemas[0]
    try:
        for s in schemas[1:]:
            merged = _merge_struct(merged, s, cs)
    except _AskSpark:
        return None
    return _as_nullable(merged)


def table_schema(spark: SparkSession, table_dir: str) -> T.StructType:
    """A layout table's merged schema: `footer_schema`, else Spark's
    mergeSchema inference."""
    schema = footer_schema(spark, table_dir)
    if schema is None:
        schema = spark.read.option("mergeSchema", "true").parquet(table_dir).schema
    return schema


def _read_existing_schema(spark: SparkSession, path: str):
    """The existing table's schema under the mergeSchema determinism rule
    (see the callers' docstrings), from the footers when they carry
    Spark's key (`table_schema`). On an EXTERNALLY-produced table whose
    files carry genuinely conflicting types for one column, the schema
    merge itself fails — re-raised here as the append guard's
    structured refusal (r12 advisor), so incompatible tables are
    rejected with the same actionable never-silently-coerced message on
    both code paths instead of surfacing a raw merge exception."""
    try:
        return table_schema(spark, path)
    except Exception as e:
        # only the schema-merge conflict is ours to translate; anything
        # else (missing files, corrupt footers, permissions) keeps its
        # original face. Match Spark's merge-error markers, not a loose
        # substring — an unrelated error whose text embeds a path like
        # /data/merged/... must not be misclassified (r13 review)
        msg = str(e).lower()
        if not any(
            marker in msg
            for marker in (
                "failed to merge",
                "failed merging schema",
                "cannot_merge",
            )
        ):
            raise
        raise ValueError(
            f"append to {path}: existing files carry conflicting types "
            f"for the same column (schema merge failed: "
            f"{str(e).splitlines()[0]}) — type changes are never "
            "silently coerced"
        ) from e


def assert_append_compatible(spark: SparkSession, path: str, schema, evolve: bool = False):
    """Refuse to append into an existing table whose schema fingerprint
    differs — silent unionByName coercion would mask exactly the drift the
    reference's md5 assert exists to catch.

    ``evolve=True`` relaxes the guard to ADDITIVE evolution (the real-world
    fleet case the reference's hard md5 assert cannot ingest at all: a
    message definition gained or lost fields between recording sessions):
    columns present on BOTH sides must have identical types — a changed
    type is still refused — while added/removed columns are allowed; the
    caller pads the incoming batch to the union so every new file carries
    a superset schema. Returns the existing on-disk schema (None when the
    table doesn't exist yet) so the caller can pad.

    The existing schema is the merged one (`_read_existing_schema`) —
    the same determinism rule as `_append_schema` (r12): on a table whose
    files carry different (superset) schemas — repeated evolve appends,
    or the bag_index-mixed vintage — a plain read samples an arbitrary
    footer, making the evolve union pad (and the strict fingerprint
    verdict) vary run to run; the merged schema is the true union and is
    stable."""
    if not os.path.isdir(path):
        return None
    existing = _read_existing_schema(spark, path)
    if evolve:
        old = {f.name: f.dataType.simpleString() for f in existing.fields}
        new = {f.name: f.dataType.simpleString() for f in schema.fields}
        clash = sorted(n for n in old.keys() & new.keys() if old[n] != new[n])
        if clash:
            raise ValueError(
                f"evolve-append to {path}: column type conflicts "
                + ", ".join(f"{n}: {old[n]} != {new[n]}" for n in clash)
                + " (type changes are never silently coerced)"
            )
        return existing
    fp_old, fp_new = schema_fingerprint(existing), schema_fingerprint(schema)
    if fp_old != fp_new:
        raise ValueError(
            f"schema mismatch appending to {path}: existing md5 {fp_old} != "
            f"incoming {fp_new} (existing: {existing.simpleString()}, "
            f"incoming: {schema.simpleString()})"
        )
    return existing


#: the stream converter's per-type FIXED metadata columns, in layout
#: order (seqno, time, size, <flattened payload>, connection_id, data,
#: bag_index, datatype) — the single source for both the payload
#: reserved-name sanitization and the pertype select
_STREAM_PERTYPE_META = (
    "seqno", "time", "size", "connection_id", "data", "bag_index",
    "datatype",
)

#: Messages columns added AFTER the reference's 5-column layout, in the
#: order they were introduced (r8: the TODO-#6 header-stamp pair; r9: the
#: TODO-#7 derived timestamp; r10: the file-provenance ordinal of
#: FlattenedRosWriter.cpp:183). They are always TRAILING, so any older
#: layout's Messages schema is a column-prefix of a newer batch's.
_MESSAGES_OPTIONAL = ("header_stamp_sec", "header_stamp_nsec", "time", "bag_index")


def _pad_append_messages(
    spark: SparkSession, msg_path: str, messages: DataFrame
) -> DataFrame:
    """Append path for Messages across SCHEMA VINTAGES: a layout converted
    before the header-stamp pair (r8) or the derived ``time`` column (r9)
    must stay appendable — when the only difference is that the incoming
    batch carries trailing optional columns the on-disk files lack, the
    batch PROJECTS DOWN to the on-disk column set (never the reverse:
    old files are immutable, and NULL-padding them on read would claim
    the old batches recorded stamps they didn't). Any other difference
    still refuses via the fingerprint guard. (The shared projection rule
    lives in `_append_schema` — one implementation for Messages and the
    per-type tables, so the vintage semantics cannot drift.)"""
    messages = _pad_append_trailing(
        spark, msg_path, messages, optional=_MESSAGES_OPTIONAL
    )
    assert_append_compatible(spark, msg_path, messages.schema)
    return messages


def _append_schema(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    optional: tuple = ("bag_index",),
) -> T.StructType:
    """The columns a batch of ``schema`` keeps when it appends to the table
    at ``path``: per-type tables gained a trailing ``bag_index``
    provenance column in r11 (reference TODO FlattenedRosWriter.cpp:183
    asks for a file ID on ALL entries) and Messages gained its trailing
    ``_MESSAGES_OPTIONAL`` columns — appending into an older-vintage table
    PROJECTS the batch DOWN to the on-disk column set (old files are
    immutable; per-row ordinals simply don't exist there and the
    provenance reader falls back to the seqno join). Any other difference
    still refuses via the fingerprint guard.

    The existing schema is the merged one (`_read_existing_schema`): on a
    MIXED-vintage table (some files stamped, some not) a plain read samples
    an arbitrary footer, so whether the batch keeps or projects away the
    stamp would be nondeterministic run to run (reads stay correct via the
    mixed marker, but the file vintages written would diverge
    unpredictably). The merged schema is deterministic — it includes the
    stamp, so strict appends into a mixed table keep stamping."""
    if not os.path.isdir(path):
        return schema
    existing = _read_existing_schema(spark, path)
    have = [f.name for f in existing.fields]
    names = [f.name for f in schema.fields]
    extra = [c for c in names if c not in have]
    if extra and set(extra) <= set(optional) and set(have) <= set(names):
        projected = T.StructType([schema[c] for c in have])
        if schema_fingerprint(projected) == schema_fingerprint(existing):
            return projected
    return schema


def _pad_append_trailing(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    optional: tuple = ("bag_index",),
) -> DataFrame:
    """``df`` projected to the columns it keeps when appending to the
    table at ``path`` (`_append_schema`)."""
    keep = _append_schema(spark, path, df.schema, optional).names
    return df if keep == df.columns else df.select(*keep)


def read_layout_table(spark: SparkSession, layout_dir: str, table: str) -> DataFrame:
    """Read a converted-layout table under its MERGED schema — required
    for layouts built with ``evolve=True`` appends, where files carry
    different (superset) schemas. The schema comes from the footers on the
    driver (`footer_schema`), so planning the read starts no Spark job;
    tables whose footers lack Spark's key are read with mergeSchema
    inference."""
    path = os.path.join(layout_dir, table)
    schema = footer_schema(spark, path)
    if schema is None:
        return spark.read.option("mergeSchema", "true").parquet(path)
    return spark.read.schema(schema).parquet(path)


#: marker file an evolve-append drops in a per-type table dir when it
#: stamps bag_index into a table whose older files predate the stamp —
#: the O(1) mixed-vintage signal `pertype_with_provenance` dispatches on
#: (underscore-prefixed, so parquet listings ignore it). The evolve
#: append is the only converter path that can create a mix (the strict
#: path projects the batch down); a mix assembled by hand outside the
#: converter API must carry the marker too.
_BAG_INDEX_MIXED_MARKER = "_bag_index_mixed"


def _all_files_have_column(table_dir: str, column: str) -> bool:
    """True iff EVERY parquet file under ``table_dir`` carries ``column``
    in its footer schema — the exhaustive homogeneity check (driver-side
    metadata reads, O(#files)). The provenance READER dispatches on the
    O(1) `_BAG_INDEX_MIXED_MARKER` instead; this helper is the
    verification tool tests pin the marker contract with."""
    import pyarrow.parquet as _pq

    found = False
    for root, _dirs, files in os.walk(table_dir):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            found = True
            if column not in _pq.read_schema(os.path.join(root, fn)).names:
                return False
    return found


def checked_union(a: DataFrame, b: DataFrame) -> DataFrame:
    """unionByName guarded by schema-fingerprint equality (reference
    FlattenedRosWriter.cpp:287) — multi-file union-as-one-table (E6) is only
    sound for identical schemas."""
    fa, fb = schema_fingerprint(a.schema), schema_fingerprint(b.schema)
    if fa != fb:
        raise ValueError(
            f"union of incompatible schemas: {a.schema.simpleString()} vs "
            f"{b.schema.simpleString()}"
        )
    return a.unionByName(b)


#: codecs every Spark 3.5+/4.x build writes and every mainstream parquet
#: reader (Spark, DuckDB, pyarrow, Trino) reads back
_COMPRESSIONS = ("snappy", "zstd", "gzip", "lz4", "uncompressed")

#: rows per output parquet file, at most (Spark's ``maxRecordsPerFile``)
_MAX_RECORDS_PER_FILE = 1_000_000


def _check_compression(codec: str) -> None:
    if codec not in _COMPRESSIONS:
        raise ValueError(
            f"compression must be one of {_COMPRESSIONS}, got {codec!r}"
        )


def convert(
    spark: SparkSession,
    stream: DataFrame,
    out_dir: str,
    *,
    time_col: str = "ts",
    type_col: str = "event_type",
    conn_col: str = "user_id",
    size_col: str = "value",
    payload_col: str = "props",
    max_mbs: float | None = None,
    order_cols: list[str] | None = None,
    payload_schema=None,
    mode: str = "overwrite",
    compression: str = "snappy",
    bag_index: int | None = None,
) -> ConvertInfo:
    """Convert a message-stream DataFrame into the reference's output layout:
    ``Messages``, ``Connections``, and per-type partitioned tables under
    ``out_dir``. ``max_mbs`` reproduces the reference's byte-bounded scan
    limit (rosbag2parquet.cpp:56-58). ``mode='append'`` adds to an existing
    output ONLY if every table's schema fingerprint matches (the reference's
    md5sum identity check, FlattenedRosWriter.cpp:287). ``compression``:
    the reference hardcodes SNAPPY (MessageTable.cpp:324); ``zstd`` trades
    ~15-25% more CPU for markedly smaller files — usually the right call
    when the output is read many times at 100 TB."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    _check_compression(compression)

    # ---- seqno: global order in stream order (reference FlattenedRosWriter.cpp:256)
    # via the scalable two-pass plan (range shuffle + per-partition offsets —
    # operators.keys.assign_seqno); no single-partition exchange anywhere.
    # Pass order_cols ending in a unique column for a well-defined total order.
    from rosbag2parquet_spark.operators.keys import assign_seqno

    msg_path = os.path.join(out_dir, "Messages")
    conn_path = os.path.join(out_dir, "Connections")

    seq = assign_seqno(stream, order_cols or [time_col, conn_col])
    if mode == "append" and os.path.isdir(msg_path):
        # the reference declares seqno unique within the output
        # (FlattenedRosWriter.cpp:57) and README makes it the cross-table
        # join key — an appended batch continues after the existing max,
        # read from the files' footer statistics on the driver
        prev_max = lw.footer_max(msg_path, "seqno")
        if prev_max is not None:
            seq = seq.withColumn(
                "seqno", (F.col("seqno") + F.lit(prev_max + 1)).cast("long")
            )

    if max_mbs is not None:
        # byte-bounded limit (reference rosbag2parquet.cpp:56-58) — the
        # bucketed two-pass running sum over seqno (contiguous ints → dense
        # buckets); window partitioned by bucket, no global-order window
        from rosbag2parquet_spark.operators.relational import running_sum_scalable

        seq = (
            running_sum_scalable(
                seq, "seqno", F.col(size_col).cast("decimal(18,4)"), 1_000_000
            )
            .filter(F.col("__running") <= max_mbs * (1 << 20))
            .drop("__b", "__running")
        )

    seq = seq.cache()  # read by three sinks below — one materialization

    # ---- Connections dim (reference FlattenedRosWriter.cpp:90-137, 209-224):
    # distinct (connection, datatype) keys → dense connection_id. On append,
    # keys already in the existing dim KEEP their ids (only genuinely-new
    # keys are appended, numbered after the existing max) — blind re-append
    # wrote duplicate rows with conflicting id→callerid mappings.
    conn_dtype = stream.schema[conn_col].dataType
    keys = seq.select(
        F.col(conn_col).alias("callerid"), F.col(type_col).alias("datatype")
    ).distinct()
    base_id = 0
    existing_conns = None
    if mode == "append" and os.path.isdir(conn_path):
        existing_conns = spark.read.parquet(conn_path)
        base_id = (
            existing_conns.agg(F.max("connection_id")).collect()[0][0] or -1
        ) + 1
        keys = keys.join(
            F.broadcast(
                existing_conns.select(
                    F.col("callerid").cast(conn_dtype).alias("callerid"),
                    "datatype",
                )
            ),
            on=["callerid", "datatype"],
            how="left_anti",
        )
    conn_w = Window.orderBy("callerid", "datatype")
    connections = (
        keys
        .withColumn("connection_id", F.row_number().over(conn_w) - 1 + base_id)
        .select(
            "connection_id",
            F.concat(F.lit("/topic/"), F.col("datatype")).alias("topic"),
            "datatype",
            F.md5(F.concat_ws("|", "callerid", "datatype")).alias("md5sum"),
            F.lit("").alias("msg_def"),
            F.col("callerid").cast("string").alias("callerid"),
        )
    )

    # connection resolution = broadcast hash probe (reference's unordered_map,
    # FlattenedRosWriter.cpp:172-178). callerid is cast back to the STREAM's
    # conn_col dtype — a hardcoded numeric cast would silently NULL every
    # connection_id for string connection keys. On append the probe side is
    # the UNION of kept existing ids and freshly-numbered new keys.
    full_dim = (
        connections
        if existing_conns is None
        else connections.unionByName(existing_conns)
    )
    lookup = full_dim.select(
        "connection_id",
        F.col("callerid").cast(conn_dtype).alias(conn_col),
        F.col("datatype").alias(type_col),
    )
    resolved = seq.join(F.broadcast(lookup), on=[conn_col, type_col], how="left")

    # ---- Messages table (reference FlattenedRosWriter.cpp:180-207):
    # (seqno, time_sec, time_nsec, size, connection_id) — the reference's
    # exact column set (README.md:26-32); time decomposed per S7
    # floor semantics via non-negative pmod (integer-exact; `div` truncates
    # toward zero, which would yield negative nsec for pre-epoch timestamps)
    us = F.unix_micros(F.col(time_col))
    rem = F.pmod(us, F.lit(1_000_000))
    sec = F.expr(f"(unix_micros(`{time_col}`) - pmod(unix_micros(`{time_col}`), 1000000)) div 1000000")
    messages = resolved.select(
        "seqno",
        sec.cast("int").alias("time_sec"),
        (rem * 1000).cast("int").alias("time_nsec"),
        F.col(size_col).alias("size"),
        "connection_id",
        # SBAG payloads are JSON — no leading ros Header to extract; the
        # column pair exists so every converter emits ONE Messages shape
        # (reference TODO #6: "adding nulls for msgs without header stamp")
        F.lit(None).cast("int").alias("header_stamp_sec"),
        F.lit(None).cast("int").alias("header_stamp_nsec"),
        # reference TODO #7 ("want native timestamps"): the derived
        # TimestampType view of the same instant, MICROSECOND precision
        # (parquet TIMESTAMP(MICROS); the sec/nsec pair remains the
        # bit-exact ns-precision record) — trailing so older layouts stay
        # a column-prefix (see _pad_append_messages)
        F.col(time_col).alias("time"),
        # file provenance (reference TODO FlattenedRosWriter.cpp:183) —
        # NULL by default on this path (a DataFrame stream has no source
        # file), but a caller converting a KNOWN batch of a larger corpus
        # passes its ordinal so appended conversions stay distinguishable
        # (the DataFrame analog of the fleet path's per-bag stamp)
        F.lit(bag_index).cast("int").alias("bag_index"),
    )
    # per-connection batch stats (reference TODO #2/#2.1) — same shape as
    # the bag converters' Stats table
    stats = resolved.groupBy("connection_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_messages"),
        (F.min(F.unix_micros(F.col(time_col))) * 1000).alias("min_time_ns"),
        (F.max(F.unix_micros(F.col(time_col))) * 1000).alias("max_time_ns"),
        F.sum(F.col(size_col).cast("long")).cast("long").alias("total_bytes"),
    )
    stats_path = os.path.join(out_dir, "Stats")

    writer_opts = {
        "maxRecordsPerFile": str(_MAX_RECORDS_PER_FILE),
        "compression": compression,
    }
    if mode == "append":
        messages = _pad_append_messages(spark, msg_path, messages)
        assert_append_compatible(spark, conn_path, connections.schema)
        assert_append_compatible(spark, stats_path, stats.schema)
    messages.write.options(**writer_opts).mode(mode).parquet(msg_path)
    # append writes only the genuinely-new dim rows (existing ids kept)
    connections.write.options(**writer_opts).mode(mode).parquet(conn_path)
    stats.write.options(**writer_opts).mode(mode).parquet(stats_path)

    # ---- per-type demux: ONE partitioned write (reference GetHandler routing,
    # FlattenedRosWriter.cpp:273-289). Layout per MessageTable.cpp:326-343:
    # seqno, flattened payload fields, connection_id, raw data blob. The
    # payload is decoded and recursively flattened (S5) when a schema is
    # given; the raw blob is carried verbatim regardless
    # (FlattenedRosWriter.cpp:229-253).
    flat_cols = []
    if payload_schema is not None:
        from rosbag2parquet_spark.operators.keys import flatten_select_cols

        resolved = resolved.withColumn(
            "__payload", F.from_json(F.col(payload_col), payload_schema)
        )
        # reserved = this table's fixed metadata columns (the single
        # tuple the select below is built from): a payload field named
        # data/bag_index/... sanitizes with trailing underscores (the bag
        # decoders' msgdef.RESERVED_COLUMNS rule), so the stamp below —
        # and the provenance reader's column dispatch — is UNCONDITIONAL
        flat_cols = flatten_select_cols(
            payload_schema, "__payload",
            reserved=frozenset(_STREAM_PERTYPE_META),
        )

    # write-time provenance stamp on the per-type rows too (reference
    # TODO FlattenedRosWriter.cpp:183 "we should add a file ID to ALL
    # entries"): map-side literal, so pertype_with_provenance is a
    # projection + broadcast name resolve — no seqno join. Trailing
    # (before the partition column), like Messages' optional columns.
    # Column order follows _STREAM_PERTYPE_META — extend that tuple, not
    # this select, when adding a metadata column.
    meta_exprs = {
        "seqno": F.col("seqno"),
        "time": F.col(time_col).alias("time"),
        "size": F.col(size_col).alias("size"),
        "connection_id": F.col("connection_id"),
        "data": F.col(payload_col).cast("binary").alias("data"),
        "bag_index": F.lit(bag_index).cast("int").alias("bag_index"),
        "datatype": F.col(type_col).alias("datatype"),
    }
    assert set(meta_exprs) == set(_STREAM_PERTYPE_META)
    head = [meta_exprs[c] for c in ("seqno", "time", "size")]
    tail = [
        meta_exprs[c]
        for c in ("connection_id", "data", "bag_index", "datatype")
    ]
    pertype = resolved.select(*head, *flat_cols, *tail)
    pertype_path = os.path.join(out_dir, "pertype")
    if mode == "append":
        # older-vintage layouts (pre-r11 per-type tables) lack the trailing
        # stamp — project the batch down rather than refuse
        pertype = _pad_append_trailing(spark, pertype_path, pertype)
        assert_append_compatible(spark, pertype_path, pertype.schema)
    (
        # sortWithinPartitions, NOT repartition(datatype): hashing on the
        # type key alone collapses each type onto ONE reducer (a bag is
        # usually dominated by one blob-heavy type — reference README.md:89)
        # and shuffles every payload byte. Sorting within the existing
        # partitions keeps the write fully parallel, zero-shuffle, and the
        # committer still emits one file per (task, type) under each
        # partition directory.
        pertype.sortWithinPartitions("datatype")
        .write.options(**writer_opts)
        .mode(mode)
        .partitionBy("datatype")
        .parquet(pertype_path)
    )

    # ---- DDL script (reference S17: vertica_load_tables.sql, utils.h:99-136)
    tables = {
        "Messages": messages.schema,
        "Connections": connections.schema,
        "Stats": stats.schema,
    }
    for row in full_dim.select("datatype").distinct().collect():
        tables[table_name_for_type(row.datatype)] = pertype.drop("datatype").schema
    with open(os.path.join(out_dir, "load_tables.sql"), "w") as f:
        f.write(load_script(tables))

    count = seq.count()
    size = seq.agg(F.sum(size_col)).collect()[0][0] or 0.0
    seq.unpersist()
    return ConvertInfo(bagname=out_dir, count=count, size=float(size))


def convert_bag(
    spark: SparkSession,
    bag_path: str,
    out_dir: str,
    *,
    num_partitions: "int | None" = None,
    arrays: str = "skip",
    unsigned: str = "signed",
    topics: "list[str] | None" = None,
    start_ns: "int | None" = None,
    end_ns: "int | None" = None,
    max_mbs: "float | None" = None,
    compression: str = "snappy",
    msgdefs: "dict[str, str] | None" = None,
    on_error: str = "fail",
) -> ConvertInfo:
    """The reference's whole program over a real bag file (.bag = rosbag
    2.0, .db3 = ROS 2 rosbag2 sqlite3 storage with CDR payloads — schema
    read from the embedded ``message_definitions`` table when present
    (Iron+), else supplied via ``msgdefs`` — else SBAG): one
    FLATTENED typed table per message type — each
    decoded with its own msg_def through the schema compiler — plus the
    ``Messages``/``Connections`` metadata tables and DDL script. Layout per
    reference MessageTable.cpp:305-343: seqno, flattened fields,
    connection_id, raw data blob.

    Plan shape: the bag opens once (`open_bag`) — its Connections rows,
    scan plan, side-car records (`_sidecar_rows`) and resume cursor all
    describe that one snapshot, so rows a recorder appends meanwhile wait
    for `resume_convert_bag`. The driver plans the scan
    (`container.plan_scan` with ``seqno=True``): contiguous byte-balanced
    splits, each numbered from a base plus the row's ordinal within the
    split after the exact row filter, so each split covers one contiguous
    seqno range. The bases come from the units' declared counts when an
    unfiltered, uncapped convert reads a container whose units all
    declare one (a rosbag 2.0 file with ChunkInfo counts on every chunk,
    an SBAG file, an unchunked MCAP file) — no extra job — and otherwise
    from one count job over the same splits, which returns only each
    split's rows and payload bytes. ``max_mbs`` (the reference's
    byte-bounded scan, rosbag2parquet.cpp:56-58) rides the same plan:
    each split's byte base makes the cap a running sum inside its task.

    Every table is then written by ONE job of one task per split
    (`_write_bag_tables`): each task reads its split itself, so payload
    bytes never pass through the JVM, decodes its payloads per type
    in-process with the vectorized tiers and writes its Messages file and
    its file of every per-type table; the driver writes the small tables
    and publishes the committed files. ``arrays='blobs'`` additionally
    extracts uint8[] payload fields as binary columns (multimodal mode).

    ``num_partitions=None`` sizes the scan the way Spark sizes a file
    scan (`scan_partitions`).

    ``topics``/``start_ns``/``end_ns`` convert a SUBSET (the classic
    `rosbag filter` workflow): topic selection prunes whole connections
    BEFORE the scan consumes their payloads, the time range prunes units
    by their index bounds, the scan drops the other rows, and seqno
    numbers the kept rows contiguously — the output is a self-contained
    layout, not a view."""
    _validate_convert_paths(bag_path, out_dir)
    if os.path.isdir(bag_path):
        # a recorded rosbag2 DIRECTORY (metadata.yaml + storage shards) —
        # the multi-shard fleet path with the manifest's stream order
        if topics is not None or start_ns is not None or end_ns is not None:
            raise ValueError(
                "topics/start_ns/end_ns subset conversion is per-file; "
                "convert the directory without filters or pass one shard"
            )
        return convert_bags(
            spark,
            bag_path,
            out_dir,
            num_partitions=num_partitions,
            arrays=arrays,
            unsigned=unsigned,
            max_mbs=max_mbs,
            compression=compression,
            msgdefs=msgdefs,
            on_error=on_error,
        )

    if num_partitions is None:
        num_partitions = scan_partitions(spark, os.path.getsize(bag_path))
    bag = open_bag(bag_path, msgdefs)
    conn_rows = bag.conn_rows
    conn_ids = None
    if topics is not None:
        # topic selection resolves on the driver-held dim and pushes into
        # the scan plan: units whose connection set misses it are pruned
        keep = set(topics)
        conn_rows = [r for r in conn_rows if r.topic in keep]
        if not conn_rows:
            raise ValueError(
                f"no connections match topics {topics!r} in {bag_path}"
            )
        conn_ids = [r.connection_id for r in conn_rows]
    scan = plan_scan(
        spark, bag, num_partitions, start_ns=start_ns, end_ns=end_ns,
        conn_ids=conn_ids, on_error=on_error, seqno=True,
        max_bytes=_max_bytes(max_mbs),
    )
    complete = (
        topics is None and start_ns is None and end_ns is None
        and max_mbs is None
    )
    # the cursor after the planned units, taken before the write: a
    # recording that grows meanwhile resumes from what this scan read
    cursor = ingest_cursor(bag) if complete else None
    count, size = _write_bag_tables(
        spark,
        scan,
        conn_rows,
        out_dir,
        arrays=arrays,
        unsigned=unsigned,
        compression=compression,
        serialization=bag.serialization,
        on_error=on_error,
        sidecars=_sidecar_rows([bag], 0),
    )
    if complete:
        # complete, unfiltered conversion: record the incremental-resume
        # cursor so a GROWN bag (the .db3 recorder appends rows in place)
        # can convert only its delta later (resume_convert_bag). The
        # default cursor (no record converted) stands where the grammar
        # keeps none.
        state = {
            "version": 1, "bag": os.path.basename(bag_path), "format": bag.fmt,
            "next_offset": 0, "last_offset": None, "last_time_ns": None,
            "count": count, "arrays": arrays, "unsigned": unsigned,
            "serialization": bag.serialization,
        }
        _write_ingest_state(out_dir, {**state, **(cursor or {})})
    return ConvertInfo(bagname=bag_path, count=count, size=size)


#: Spark's byte-string units (binary multiples), as in '134217728b'
_BYTE_UNIT_SHIFT = {
    "": 0, "b": 0, "k": 10, "kb": 10, "m": 20, "mb": 20,
    "g": 30, "gb": 30, "t": 40, "tb": 40, "p": 50, "pb": 50,
}


def _conf_bytes(spark: SparkSession, key: str) -> int:
    """A byte-size session setting as an int (the session renders them as
    byte strings such as '134217728b')."""
    import re

    raw = spark.conf.get(key)
    m = re.fullmatch(r"\s*(\d+)\s*([a-z]*)\s*", raw.lower())
    if m is None or m.group(2) not in _BYTE_UNIT_SHIFT:
        raise ValueError(f"{key}={raw!r} is not a byte size")
    return int(m.group(1)) << _BYTE_UNIT_SHIFT[m.group(2)]


def split_count(
    nbytes: int, parallelism: int, max_partition_bytes: int, open_cost: int
) -> int:
    """Splits for an ``nbytes`` input the way Spark sizes a file scan:
    split bytes = min(maxPartitionBytes, max(openCostInBytes,
    nbytes / parallelism)). Small inputs get few splits (every split is a
    task each per-type decode job pays for), large ones one per
    maxPartitionBytes."""
    per_core = nbytes // max(1, parallelism)
    split = max(1, min(max_partition_bytes, max(open_cost, per_core)))
    return max(1, -(-nbytes // split))


def scan_partitions(spark: SparkSession, nbytes: int) -> int:
    """`split_count` under this session's ``spark.sql.files.*`` settings
    and default parallelism."""
    return split_count(
        nbytes,
        spark.sparkContext.defaultParallelism,
        _conf_bytes(spark, "spark.sql.files.maxPartitionBytes"),
        _conf_bytes(spark, "spark.sql.files.openCostInBytes"),
    )


#: incremental-resume sidecar, written beside the layout tables by every
#: complete unfiltered single-bag conversion
INGEST_STATE = "_ingest_state.json"


def _write_ingest_state(out_dir: str, state: dict) -> None:
    """Publish the resume state atomically: the format, the batch modes and
    count, and the grammar's cursor (`container.ingest_cursor`)."""
    tmp = os.path.join(out_dir, INGEST_STATE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, os.path.join(out_dir, INGEST_STATE))


def resume_convert_bag(
    spark: SparkSession,
    bag_path: str,
    out_dir: str,
    *,
    num_partitions: "int | None" = None,
    compression: str = "snappy",
    msgdefs: "dict[str, str] | None" = None,
    on_error: str = "fail",
) -> ConvertInfo:
    """Convert only the DELTA of a bag that has GROWN since the layout was
    built — the live-recording ingest shape (a ROS 2 .db3 recorder INSERTs
    rows into the same file for hours; re-converting the whole bag per
    pass is O(bag), this is O(new rows)).

    The cursor comes from the ``_ingest_state.json`` sidecar every
    complete unfiltered :func:`convert_bag` writes, and each grammar owns
    its own (`container.resume_start` / `container.ingest_cursor`):
    ``.db3`` sqlite rowids (the WHERE id >= cursor rides the primary-key
    b-tree), SBAG and unchunked MCAP byte offsets of message records under
    pure append, and the CHUNK index of a chunked MCAP (a real appender
    extends the chunk list and rewrites only the summary) — pruned at PLAN
    time. rosbag 2.0 is refused (an appended .bag needs a reindex that may
    reframe chunks; its ingest story is the fleet append over new FILES,
    convert_bags(mode='append')). Before anything is opened for the scan
    the grammar proves the converted prefix is the same recording — the
    last converted record reads back with its timestamp, or the last
    converted chunk keeps its (offset, size, time-bounds) identity — so a
    re-recorded (restarted) bag at the same path is refused instead of
    silently append-corrupting the layout.

    The bag then opens ONCE at the cursor: the delta scan, the new
    connections, the new side-car records and the next cursor all come
    from that one plan, so rows the recorder adds during the resume wait
    for the next one. The delta is planned like any convert
    (`container.plan_scan` with ``seqno=True``), its split bases shifted
    past the layout's max seqno, and written by the same one job of
    split-reading tasks (`_write_bag_tables`); new connections (new topics
    mid-recording — normal for .db3/MCAP) extend the dim keeping existing
    ids; new MCAP attachments and metadata diff-append; every touched
    table passes the schema-fingerprint guard. Resuming after growth equals converting the
    grown bag in one shot — test-pinned. ``num_partitions=None`` sizes the
    scan from the file's bytes (`scan_partitions`).

    The reference has no incremental story (rosbag2parquet.cpp converts
    whole files); this is the operational upgrade a 100 TB fleet needs."""
    state_path = os.path.join(out_dir, INGEST_STATE)
    if not os.path.isfile(state_path):
        raise ValueError(
            f"{out_dir}: no {INGEST_STATE} — resume needs a layout built "
            "by a complete unfiltered convert_bag (filtered/fleet layouts "
            "carry no cursor)"
        )
    with open(state_path) as f:
        state = json.load(f)
    bag = open_bag(bag_path, msgdefs, start=resume_start(bag_path, state))
    if bag.serialization != state["serialization"]:
        raise ValueError(f"{bag_path}: serialization changed since conversion")
    sidecars = _sidecar_rows([bag], 0, out_dir=out_dir)
    if not bag.units and not sidecars:
        return ConvertInfo(bagname=bag_path, count=0, size=0.0)
    if num_partitions is None:
        num_partitions = scan_partitions(spark, os.path.getsize(bag_path))
    scan = plan_scan(spark, bag, num_partitions, on_error=on_error, seqno=True)

    # dim reconciliation: existing ids are kept verbatim; a grown bag may
    # DECLARE new connections (new topics mid-recording) — those append.
    # An existing id whose identity changed means a different recording.
    existing = {
        r[0]: r for r in _read_rows(os.path.join(out_dir, "Connections"))
    }
    conn_rows = bag.conn_rows
    new_rows = []
    for r in conn_rows:
        if r.connection_id in existing:
            if tuple(r) != existing[r.connection_id]:
                raise ValueError(
                    f"connection {r.connection_id} changed identity since "
                    f"conversion: {existing[r.connection_id]} -> {tuple(r)}"
                )
        else:
            new_rows.append(r)

    cursor = ingest_cursor(bag) if bag.units else {}
    count, size = _write_bag_tables(
        spark,
        scan,
        conn_rows,
        out_dir,
        arrays=state["arrays"],
        unsigned=state["unsigned"],
        compression=compression,
        serialization=state["serialization"],
        on_error=on_error,
        mode="append",
        conns_write_rows=new_rows,
        sidecars=sidecars,
    )
    state["count"] = int(state["count"]) + count
    _write_ingest_state(out_dir, {**state, **cursor})
    return ConvertInfo(bagname=bag_path, count=count, size=size)


#: the side-car tables every bag convert writes beside Messages, with bag
#: provenance — ONE shape for single-bag and fleet conversions (bag_index
#: is the batch-relative bag ordinal, continued across appends like seqno)
_SIDECAR_SCHEMAS = {
    # side-car files embedded in the bag (calibration YAML, intrinsics,
    # URDF — MCAP Attachment records; rosbag has no analog)
    "Attachments": (
        "bag_index int, bag string, name string, media_type string, "
        "log_time long, create_time long, data binary"
    ),
    # named key-value records (recorder version, vehicle id) flattened to
    # one row per key
    "Metadata": "bag_index int, bag string, name string, key string, value string",
    # the fleet manifest — one row per source bag per conversion, the table
    # the reference TODO's "file ID" (FlattenedRosWriter.cpp:183) resolves
    # through: Messages.bag_index → (bag name, path, grammar); written for
    # EVERY grammar
    "Bags": "bag_index int, bag string, path string, format string",
}


def _sidecar_rows(
    bags: list, base: int, *, out_dir: "str | None" = None
) -> "dict[str, list]":
    """The Attachments, Metadata and Bags rows of the opened ``bags``,
    ordinals from ``base``; empty tables are omitted. With ``out_dir`` (a
    resume re-ingesting the same file) the Bags row already stands, and
    only side-car records the layout does not hold yet are kept."""
    rows: dict = {name: [] for name in _SIDECAR_SCHEMAS}
    for i, bag in enumerate(bags, base):
        name = os.path.basename(bag.path)
        att, md = sidecar_rows(bag)
        rows["Attachments"] += [(i, name, *r) for r in att]
        rows["Metadata"] += [(i, name, *r) for r in md]
        rows["Bags"].append((i, name, bag.path, bag.fmt))
    if out_dir is not None:
        del rows["Bags"]
        rows = {t: _unseen(os.path.join(out_dir, t), r) for t, r in rows.items()}
    return {t: r for t, r in rows.items() if r}


def _read_rows(path: str) -> "list[tuple]":
    """A small layout table's rows, read on the driver (no job)."""
    import pyarrow.parquet as pq

    return [tuple(r.values()) for r in pq.read_table(path).to_pylist()]


def _unseen(path: str, rows: list) -> list:
    """``rows`` minus those the layout table at ``path`` already holds;
    identity is every column but the leading bag_index ordinal."""
    if not rows or not os.path.isdir(path):
        return rows
    seen = {r[1:] for r in _read_rows(path)}
    return [r for r in rows if tuple(r[1:]) not in seen]


def _union_fields(
    datatype: str, versions: "list[list[T.StructField]]"
) -> "list[T.StructField]":
    """The value columns of one type's table from the decoded columns of
    each definition version: their union in first-seen order, a column
    some version lacks made nullable (its rows land as typed NULLs); a
    column typed differently across versions is refused (never silently
    coerced). Single-version types (the non-evolve norm) keep their
    columns untouched."""
    types: "dict[str, T.DataType]" = {}
    nullable: "dict[str, bool]" = {}
    for fields in versions:
        for fld in fields:
            seen = types.get(fld.name)
            if seen is not None and seen.simpleString() != fld.dataType.simpleString():
                raise ValueError(
                    f"{datatype}: column {fld.name!r} typed "
                    f"{seen.simpleString()} and {fld.dataType.simpleString()} "
                    "across definition versions (type changes are never "
                    "silently coerced)"
                )
            types.setdefault(fld.name, fld.dataType)
            nullable[fld.name] = nullable.get(fld.name, False) or fld.nullable
    for fields in versions:
        have = {f.name for f in fields}
        for n in types:
            if n not in have:
                nullable[n] = True
    # The provenance stamp is UNCONDITIONAL: a payload field named
    # bag_index sanitizes to bag_index_ in every decoder tier
    # (msgdef.RESERVED_COLUMNS), which the provenance reader's column
    # dispatch relies on — enforce the invariant loudly.
    if "bag_index" in types:
        raise AssertionError(
            f"{datatype}: decoder emitted a payload column named "
            "bag_index (RESERVED_COLUMNS sanitization must rename it)"
        )
    return [T.StructField(n, t, nullable[n]) for n, t in types.items()]


def _leading_stamp_offset(
    datatype: str, msg_def: str, serialization: str
) -> "int | None":
    """Payload byte offset (0-based; CDR offsets include the 4-byte
    encapsulation) of the leading std_msgs/Header's stamp — 8 bytes of
    little-endian (sec, nsec) int32 pairs — or None when the type does
    not lead with a fixed-prefix Header (reference TODO #6,
    rosbag2parquet.cpp:27: "emit a header timestamp to the same global
    parquet table (requires adding nulls for msgs without header
    stamp)"). Handles both Header shapes: ros1 (uint32 seq, time stamp,
    string frame_id — stamp at +4) and ros2 (builtin_interfaces/Time
    stamp first — stamp at the origin)."""
    from rosbag2parquet_spark.sources.decode import WIRE
    from rosbag2parquet_spark.sources.jsonschema import JSON_DEF_PREFIX
    from rosbag2parquet_spark.sources.msgdef import (
        TIME_TYPES,
        _resolve,
        parse_msgdef,
    )
    from rosbag2parquet_spark.sources.protobuf import PROTOBUF_DEF_PREFIX

    if serialization not in WIRE or not msg_def.strip():
        return None
    if msg_def.startswith((PROTOBUF_DEF_PREFIX, JSON_DEF_PREFIX)):
        return None
    try:
        specs = parse_msgdef(datatype, msg_def)
        root = specs[datatype]
    except Exception:
        return None
    if not root.fields:
        return None
    f0 = root.fields[0]
    if f0.is_array or f0.type_name.rsplit("/", 1)[-1] != "Header":
        return None
    pkg = root.full_name.split("/")[0] if "/" in root.full_name else ""
    hdr = _resolve(f0.type_name, pkg, specs)
    if hdr is None:
        return None
    wire = WIRE[serialization]
    sizes = {t: s[0] for t, s in wire.scalars().items()}
    off = wire.origin
    for f in hdr.fields:
        if f.is_array:
            return None
        if f.type_name in TIME_TYPES:
            return wire.pad(off, 4)
        if f.type_name not in sizes:
            # the ros2 spelling: builtin_interfaces/Time stamp — a nested
            # struct of exactly two 4-byte ints (sec, nanosec)
            sub = _resolve(f.type_name, pkg, specs)
            if (
                f.name == "stamp"
                and sub is not None
                and len(sub.fields) == 2
                and all(
                    (not sf.is_array) and sizes.get(sf.type_name) == 4
                    for sf in sub.fields
                )
            ):
                return wire.pad(off, 4)
            return None
        sz = sizes[f.type_name]
        off = wire.pad(off, sz) + sz
    return None


def _header_stamp_plan(
    conn_rows, serialization: str
) -> "tuple[list[tuple[int, list[int]]], tuple]":
    """How the Messages table's nullable ``header_stamp_sec``/
    ``header_stamp_nsec`` pair is read (`layout_write.header_stamps`):
    ``[(payload offset, connection ids)]`` for the connections whose type
    leads with a fixed-prefix Header, grouped by the stamp's byte offset,
    and the little-endian encapsulation ids a CDR payload must declare in
    its header (byte 1, as the typed decoders check per message) — a
    big-endian payload gets NULL stamps, not garbage."""
    from rosbag2parquet_spark.sources.decode import WIRE

    by_off: "dict[int, list[int]]" = {}
    for c in conn_rows:
        o = _leading_stamp_offset(c.datatype, c.msg_def, serialization)
        if o is not None:
            by_off.setdefault(o, []).append(c.connection_id)
    le_ids = WIRE[serialization].le_ids if serialization in WIRE else ()
    return sorted((o, sorted(ids)) for o, ids in by_off.items()), tuple(le_ids)


def _le32_sql(off0: int) -> str:
    """Little-endian uint32 at 0-based payload offset ``off0`` as a pure
    Catalyst expression (per-byte hex -> conv -> shift; 4 JVM-side terms,
    no Python)."""
    return (
        "("
        + " + ".join(
            f"shiftleft(CAST(conv(hex(substring(data, {off0 + 1 + i}, 1)),"
            f" 16, 10) AS BIGINT), {8 * i})"
            for i in range(4)
        )
        + ")"
    )


def _header_stamp_exprs(
    conn_rows, serialization: str
) -> "tuple[str, str]":
    """(sec_sql, nsec_sql): the `_header_stamp_plan` rule as a pair of
    Catalyst expressions over ``conn_id``/``data`` columns — one CASE arm
    per distinct stamp offset; a too-short or non-little-endian payload,
    and every other connection, is NULL. The reference the in-task reader
    (`layout_write.header_stamps`) is checked against."""
    stamps, le_ids = _header_stamp_plan(conn_rows, serialization)
    if not stamps:
        return "CAST(NULL AS INT)", "CAST(NULL AS INT)"

    def _as_i32(u32_sql: str) -> str:
        # EXPLICIT signed reinterpretation (u32 >= 2^31 -> negative), the
        # reference's own INT32 storage for time pairs. A bare
        # CAST(long AS INT) is NOT safe here: under ANSI mode (Spark 4's
        # default) an overflowing cast throws instead of wrapping.
        return (
            f"CAST({u32_sql} - CASE WHEN {u32_sql} >= 2147483648"
            f" THEN 4294967296 ELSE 0 END AS INT)"
        )

    le_guard = (
        " AND substring(data, 2, 1) IN ("
        + ", ".join(f"X'{b:02X}'" for b in le_ids)
        + ")"
        if le_ids
        else ""
    )
    sec, nsec = "CASE", "CASE"
    for o, cids in stamps:
        ids = ",".join(str(i) for i in cids)
        guard = f"conn_id IN ({ids}) AND length(data) >= {o + 8}{le_guard}"
        sec += f" WHEN {guard} THEN {_as_i32(_le32_sql(o))}"
        nsec += f" WHEN {guard} THEN {_as_i32(_le32_sql(o + 4))}"
    return sec + " ELSE CAST(NULL AS INT) END", nsec + " ELSE CAST(NULL AS INT) END"


def _validate_convert_paths(in_path: str, out_dir: str) -> None:
    """Reference TODO #1 (rosbag2parquet.cpp:21: "check input/output path
    validity before opening rosbag — want to fail quickly"): an invalid
    output must fail BEFORE any scan/decode work, not after it."""
    if not os.path.exists(in_path):
        raise FileNotFoundError(f"input bag not found: {in_path}")
    parent = os.path.dirname(os.path.abspath(out_dir)) or "."
    if not os.path.isdir(parent):
        raise NotADirectoryError(
            f"output parent directory does not exist: {parent}"
        )
    if not os.access(parent, os.W_OK):
        raise PermissionError(f"output parent not writable: {parent}")
    if os.path.isfile(out_dir):
        raise NotADirectoryError(f"output path is a file: {out_dir}")


def _max_bytes(max_mbs: "float | None") -> "float | None":
    """The ``max_mbs`` cap in payload bytes (reference rosbag2parquet.cpp:
    56-58: stop once cumulative payload bytes pass the cap); under append
    it applies to the batch."""
    return None if max_mbs is None else max_mbs * (1 << 20)


def _write_bag_tables(
    spark: SparkSession,
    scan: ScanPlan,
    conn_rows: list,
    out_dir: str,
    *,
    arrays: str,
    mode: str = "overwrite",
    unsigned: str = "signed",
    compression: str = "snappy",
    serialization: str = "ros1",
    on_error: str = "fail",
    evolve: bool = False,
    conns_write_rows: "list | None" = None,
    sidecars: "dict[str, list] | None" = None,
    base_bag_index: int = 0,
) -> "tuple[int, float]":
    """The one tail of every bag convert: ``scan`` is the numbered scan
    plan (`container.plan_scan` with ``seqno=True``: split bases 0.. over
    this batch, and any ``max_bytes`` cap already planned). Writes
    ``Messages``, ``Connections``, ``Stats``, one flattened typed table
    per datatype, the ``sidecars`` tables (name -> rows, `_sidecar_rows`)
    and the DDL script, and returns the batch's (count, payload bytes).

    Under append the split bases shift past the layout's max seqno, read
    from the footers (seqno is the cross-table join key, unique within
    the output, FlattenedRosWriter.cpp:57). Then ONE Spark job of one
    task per split (`layout_write.write_task`): task *i* reads split *i*
    (`container.read_split`), then decodes and writes Messages and every
    per-type table, streaming its rows into a staging dir and committing
    its files and per-connection Stats partials; the driver writes the
    small tables from rows it holds and publishes the committed files
    (`layout_write.publish`). Count and size come from the commit rows. A
    failed scan count check surfaces as its ValueError.

    ``mode='append'`` adds the batch to an existing layout: every touched
    table passes the schema-fingerprint guard (the reference's md5 identity
    check, FlattenedRosWriter.cpp:287) BEFORE the job runs, new per-type
    tables create their own dirs, and ``conns_write_rows`` (the
    genuinely-NEW dim rows only) lands on disk while the full
    ``conn_rows`` still drive the per-type decode. Both are driver-held
    rows (the reference snapshots the dim at open). A convert that fails
    before the publish — a refused append, an undecodable payload under
    ``on_error='fail'`` — leaves the layout as it was."""
    from rosbag2parquet_spark.sources.container import CONN_SCHEMA
    from rosbag2parquet_spark.sources.decode import decode_columns, payload_tier

    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    _check_compression(compression)
    msg_path = os.path.join(out_dir, "Messages")
    if mode == "append":
        prev_max = lw.footer_max(msg_path, "seqno")
        if prev_max is not None:
            scan = scan._replace(
                bases=[b + int(prev_max) + 1 for b in scan.bases]
            )

    # ---- per-type grouping + identity validation BEFORE any write: a
    # refused append (md5 disagreement, schema drift) must leave the
    # existing layout untouched, not half-appended
    by_type: dict[str, list] = {}
    for c in conn_rows:
        by_type.setdefault(c.datatype, []).append(c)
    for datatype, cs in sorted(by_type.items()):
        # reference asserts one frozen schema per type (md5 identity,
        # FlattenedRosWriter.cpp:287). An md5sum "" is UNKNOWN (.db3 and
        # MCAP carry none): known md5s must agree, and where one is unknown
        # the definition texts must. Under evolve, definition VERSIONS of a
        # type may coexist (each connection decodes with its own def and
        # the table pads to the union — `_union_fields`)
        if evolve:
            continue
        known = sorted({c.md5sum for c in cs if c.md5sum})
        if len(known) > 1:
            raise ValueError(f"{datatype}: connections disagree on md5sum {known}")
        if not all(c.md5sum for c in cs) and len({c.msg_def for c in cs}) > 1:
            raise ValueError(
                f"{datatype}: connections disagree on the message definition "
                "and not every md5sum is known"
            )

    # ---- one flattened typed table per datatype (lazy per-type handlers,
    # reference FlattenedRosWriter.cpp:273-289): the decode tiers and every
    # table schema are built and VALIDATED here, so every refusal — strict
    # fingerprint mismatch, evolve type conflict — fires before any file is
    # written. Column order per MessageTable.cpp:326-343 (seqno, flattened
    # payload, connection_id, raw blob) plus the trailing r11 provenance
    # stamp, which rides the scan batch like seqno and the blob, so
    # stamping per-type tables is map-side free.
    schemas: "dict[str, T.StructType]" = {}
    groups: list = []
    mixed: set = set()  # table dirs that become mixed-vintage (evolve)
    for datatype, cs in sorted(by_type.items()):
        table = table_name_for_type(datatype)
        # one decode per DEFINITION VERSION: identical everywhere except
        # evolve mode, where connections of the same type may carry
        # different defs — each group decodes with ITS def and the table
        # takes the union of their columns
        defgroups: dict[str, list] = {}
        for c in cs:
            defgroups.setdefault(c.msg_def, []).append(c)
        versions = []
        for msg_def, gcs in sorted(defgroups.items()):
            tier = payload_tier(
                datatype, msg_def, serialization=serialization,
                arrays=arrays, unsigned=unsigned,
            )
            versions.append(
                [] if tier is None
                else decode_columns(tier[0], tier[1], on_error=on_error)[0]
            )
            groups.append(
                lw.Group(table, [c.connection_id for c in gcs], tier)
            )
        schema = T.StructType(
            [T.StructField("seqno", T.LongType(), False)]
            + _union_fields(datatype, versions)
            + [
                T.StructField("connection_id", T.IntegerType(), False),
                T.StructField("data", T.BinaryType(), False),
                T.StructField("bag_index", T.IntegerType(), False),
            ]
        )
        table_path = os.path.join(out_dir, table)
        if mode == "append":
            if not evolve:
                # pre-r11 vintages: per-type tables without the trailing
                # stamp stay appendable (the batch projects down; evolve
                # mode instead treats bag_index as an additive column)
                schema = _append_schema(spark, table_path, schema)
            existing = assert_append_compatible(
                spark, table_path, schema, evolve=evolve
            )
            if evolve and existing is not None:
                if "bag_index" not in existing.names:
                    # this append introduces the stamp into a table whose
                    # older files predate it — the table becomes MIXED-
                    # vintage and the provenance reader must take the
                    # seqno join (the O(1) dispatch marker, published
                    # before the table's new files)
                    mixed.add(table)
                # pad the batch to the UNION schema: columns the layout has
                # that this batch's definition dropped land as NULLs, so
                # every new file carries a superset schema; earlier files
                # keep theirs — read evolved layouts with mergeSchema=true
                # (the DDL script and read_layout_table do)
                meta = ("seqno", "connection_id", "data", "bag_index")
                vals = [f for f in schema.fields if f.name not in meta] + [
                    T.StructField(f.name, f.dataType, True)
                    for f in existing.fields if f.name not in schema.names
                ]
                schema = T.StructType([
                    schema["seqno"], *vals, schema["connection_id"],
                    schema["data"], schema["bag_index"],
                ])
        schemas[table] = schema

    messages = lw.MESSAGES_SCHEMA
    small = {
        "Connections": (
            T.StructType.fromDDL(CONN_SCHEMA),
            conn_rows if conns_write_rows is None else conns_write_rows,
        ),
        **{
            name: (T.StructType.fromDDL(_SIDECAR_SCHEMAS[name]), rows)
            for name, rows in (sidecars or {}).items()
        },
    }
    if mode == "append":
        # Messages across SCHEMA VINTAGES (`_pad_append_messages`)
        messages = _append_schema(spark, msg_path, messages, _MESSAGES_OPTIONAL)
        assert_append_compatible(spark, msg_path, messages)
        # Stats and the side-cars: the same fingerprint guard as every
        # other table — the one provenance shape appends across batches
        assert_append_compatible(
            spark, os.path.join(out_dir, "Stats"), lw.STATS_SCHEMA
        )
        for name, (schema, _rows) in small.items():
            if name != "Connections":
                assert_append_compatible(
                    spark, os.path.join(out_dir, name), schema
                )
    schemas = {"Messages": messages, **schemas}

    # ---- the one job: each task reads, decodes and writes its split
    stamps, le_ids = _header_stamp_plan(conn_rows, serialization)
    version = spark.version
    created = not os.path.isdir(out_dir)
    staging = lw.make_staging(out_dir)
    plan = lw.WritePlan(
        staging=staging,
        job=os.path.basename(staging)[len("_staging-"):],
        codec=compression,
        max_records=_MAX_RECORDS_PER_FILE,
        on_error=on_error,
        base_bag_index=base_bag_index,
        schemas={t: lw.arrow_schema(s, version) for t, s in schemas.items()},
        groups=groups,
        stamps=stamps,
        le_ids=le_ids,
        scan=scan,
    )
    try:
        try:
            done = split_job(
                spark, scan, lw.write_task(plan), lw.COMMIT_SCHEMA
            ).collect()
        except PySparkException as exc:
            raise_count_error(exc)
            raise
        commits = [r.asDict() for r in done]
        failed = [r["error"] for r in commits if r["error"] is not None]
        if failed:
            raise ValueError(f"layout write failed: {failed[0]}")
        stats = lw.stats_rows(commits)
        small["Stats"] = (lw.STATS_SCHEMA, stats)
        written = {r["table"] for r in commits if r["path"] is not None}
        for table, schema in schemas.items():
            # a table no task wrote still gets its (empty) file where it
            # does not exist yet, so every declared type reads back
            if table not in written and (
                mode == "overwrite" or not os.path.isdir(os.path.join(out_dir, table))
            ):
                small[table] = (schema, [])
        for name, (schema, rows) in small.items():
            commits.append(lw.write_rows(
                staging, name, rows, lw.arrow_schema(schema, version),
                compression, plan.job,
            ))
        # Messages first, the per-type tables, then the small tables
        rank: dict = {}
        for t in [*schemas, *small]:
            rank.setdefault(t, len(rank))
        commits.sort(key=lambda r: (rank[r["table"]], r["path"] or ""))
        lw.publish(
            out_dir, staging, commits, overwrite=mode == "overwrite",
            markers={t: _BAG_INDEX_MIXED_MARKER for t in mixed},
        )
    except BaseException:
        # publish removes staging itself; a convert that failed earlier
        # leaves nothing behind, not even the out_dir it created
        shutil.rmtree(staging, ignore_errors=True)
        if created and not os.listdir(out_dir):
            os.rmdir(out_dir)
        raise

    # ---- DDL script (reference S17: vertica_load_tables.sql, utils.h:99-136)
    tables = {**schemas, **{name: schema for name, (schema, _) in small.items()}}
    if mode == "append":
        # the DDL script must list EVERY table in the layout, including
        # per-type tables from earlier batches this append didn't touch —
        # enumerate the dirs on disk (schema reads are footer-only)
        for d in sorted(os.listdir(out_dir)):
            p = os.path.join(out_dir, d)
            if d not in tables and os.path.isdir(p):
                try:
                    tables[d] = table_schema(spark, p)
                except Exception:
                    pass  # non-table dir (e.g. checkpoints)
    with open(os.path.join(out_dir, "load_tables.sql"), "w") as f:
        f.write(load_script(tables))
    return sum(r[1] for r in stats), float(sum(r[4] for r in stats))


def _looks_like_bag(path: str) -> bool:
    """Directory-mode admission: magic bytes only. A stray README or a
    partial download next to the bags must be skipped, and anything
    admitted must also DISPATCH correctly — one detector serves both."""
    from rosbag2parquet_spark.sources.baglike import bag_format

    return bag_format(path) is not None


def resolve_bag_paths(bags: "str | list[str]") -> list[str]:
    """A directory (bag files inside, sorted), a glob pattern (sorted
    matches), a single file, or an explicit list (kept in the given order —
    the order IS the global stream order, reference README.md:16).

    Directory listings are filtered to bag files (extension or magic
    bytes) so stray non-bag files don't fail mid-conversion; an existing
    literal path wins over glob interpretation (a '[' in a plain filename
    is a filename, not a character class)."""
    import glob as _glob

    if not isinstance(bags, str):
        paths = list(bags)
    elif os.path.isdir(bags):
        from rosbag2parquet_spark.sources.rosbag2 import rosbag2_dir_shards

        # a recorded rosbag2 directory carries its own shard manifest —
        # metadata.yaml's relative_file_paths IS the stream order (replay
        # order; alphabetical sorting does not guarantee it)
        shards = rosbag2_dir_shards(bags)
        if shards is not None:
            return shards
        paths = sorted(
            p
            for p in _glob.glob(os.path.join(bags, "*"))
            if os.path.isfile(p) and _looks_like_bag(p)
        )
    elif not os.path.exists(bags) and any(ch in bags for ch in "*?["):
        paths = sorted(p for p in _glob.glob(bags) if os.path.isfile(p))
    else:
        paths = [bags]
    if not paths:
        raise ValueError(f"no bag files found for {bags!r}")
    return paths


def convert_bags(
    spark: SparkSession,
    bags: "str | list[str]",
    out_dir: str,
    *,
    num_partitions: "int | None" = None,
    arrays: str = "skip",
    unsigned: str = "signed",
    max_mbs: "float | None" = None,
    compression: str = "snappy",
    msgdefs: "dict[str, str] | None" = None,
    on_error: str = "fail",
    mode: str = "overwrite",
    evolve: bool = False,
) -> ConvertInfo:
    """Convert a FLEET of bags into ONE table layout — the reference's
    "multiple compatible parquet files can be treated as a single file"
    claim (README.md:16) made explicit: seqno is continuous across bags in
    input order, and the Connections dim is reconciled by identity (same
    (topic, datatype, md5sum, msg_def, callerid, latching) tuple in two
    bags → one global connection_id, first-seen order).

    ``mode='append'`` converts NEW bags into an EXISTING layout — the
    daily-ingest shape (a recorder fleet lands new bags; rewriting the
    100 TB layout per batch is a non-starter): seqno continues after the
    existing max (a parquet column-stats read), connection identities
    already in the dim KEEP their ids (only genuinely-new identities are
    appended, numbered after them), and every touched table passes the
    schema-fingerprint guard. Appending batch B onto converted A equals
    converting [A, B] in one fleet — test-pinned.

    All four grammars fleet (``.bag``/SBAG = ros1, ``.db3``/MCAP-ros1/
    MCAP-cdr), including a recorded rosbag2 DIRECTORY (metadata.yaml names
    the shards in stream order); the only constraint is a homogeneous
    payload serialization across the fleet — the per-type decode dispatches
    once per type, so a ros1+cdr mix is refused up front.

    Scale shape: each bag opens once, driver-side — the header walk is
    O(#chunks) cheap and runs concurrently across files (thread pool — I/O
    bound) — and the dim, the scan and the side-car tables all read those
    containers. The fleet is then ONE scan plan (`container.plan_scan`
    over them), read inside the write tasks: at most ``num_partitions``
    contiguous byte-balanced splits over every bag's units in (bag, file)
    order, each split mapping its rows' local
    connection ids to the global dim and stamping ``bag_index`` as it
    reads, and numbering them by the same seqno rule as a single bag —
    one narrow count job gives the split bases unless every unit declares
    a count. ``num_partitions=None`` sizes the scan from the fleet's total
    bytes (`scan_partitions`)."""
    from concurrent.futures import ThreadPoolExecutor

    paths = resolve_bag_paths(bags)  # raises on an empty resolution
    for p in paths:
        _validate_convert_paths(p, out_dir)
    # one container open per bag (the reference's View construction is
    # per-bag too, rosbag2parquet.cpp:44-47), concurrent across files — I/O
    # bound; the dim, the scan and the side-cars below all use these
    with ThreadPoolExecutor(max_workers=min(8, len(paths))) as pool:
        metas = list(pool.map(lambda p: open_bag(p, msgdefs), paths))

    serializations = sorted({m.serialization for m in metas})
    if len(serializations) > 1:
        raise ValueError(
            f"fleet mixes payload serializations {serializations} — the "
            "per-type decode dispatches once per type; convert the "
            "generations into separate layouts"
        )
    serialization = serializations[0] if serializations else "ros1"

    # ---- global Connections dim: first-seen identity across bags.
    # In append mode the dim is SEEDED from the existing layout so prior
    # identities KEEP their ids (a convert_bag layout keeps bag-local ids,
    # so the seed is not necessarily dense); new identities number after
    # the existing max. Absent callerid/latching normalize to "" in every
    # identity key, so the same logical connection in a rosbag (absent ->
    # None), an SBAG (padded "") and the existing dim reconciles to ONE
    # global id; stored rows keep their own values.
    gid: dict[tuple, int] = {}
    dim_rows: list[tuple] = []
    n_seeded = 0
    next_id = 0
    if mode == "append":
        conn_path = os.path.join(out_dir, "Connections")
        if os.path.isdir(conn_path):
            for r in sorted(_read_rows(conn_path)):
                row = ConnRow(*r)
                key = (*row[1:5], row.callerid or "", row.latching or "")
                # an identity stored twice (NULL callerid/latching from
                # convert_bag and "" from an older fleet append) maps to
                # its LOWEST id; both dim rows stay
                gid.setdefault(key, row.connection_id)
                dim_rows.append(row)
                next_id = max(next_id, row.connection_id + 1)
            n_seeded = len(dim_rows)
    conn_maps: list[dict[int, int]] = []
    for meta in metas:
        conn_maps.append({})
        for row in meta.conn_rows:
            key = (*row[1:5], row.callerid or "", row.latching or "")
            if key not in gid:
                gid[key] = next_id
                next_id += 1
                dim_rows.append((gid[key], *key))
            conn_maps[-1][row.connection_id] = gid[key]
    if not any(conn_maps):
        raise ValueError(f"no connections found in any of {len(paths)} bag(s)")

    if num_partitions is None:
        num_partitions = scan_partitions(
            spark, sum(os.path.getsize(p) for p in paths)
        )
    scan = plan_scan(
        spark, metas, num_partitions, on_error=on_error, seqno=True,
        conn_maps=conn_maps, max_bytes=_max_bytes(max_mbs),
    )

    # append writes only the genuinely-new dim rows; the decode still sees
    # the full dim (a type may span old and new connections)
    conns_write_rows = dim_rows[n_seeded:] if mode == "append" else None

    # side-car provenance ordinals: under append, bag_index continues after
    # the existing max over EVERY provenance carrier (read from the
    # footers, like seqno) so one bag's ordinal agrees across tables and
    # batches; pre-r10 Messages files lack the column and are skipped
    base_bag_index = 0
    if mode == "append":
        prevs = [
            lw.footer_max(os.path.join(out_dir, t), "bag_index")
            for t in ("Attachments", "Metadata", "Messages", "Bags")
        ]
        prevs = [p for p in prevs if p is not None]
        base_bag_index = (max(prevs) if prevs else -1) + 1

    count, size = _write_bag_tables(
        spark,
        scan,
        [ConnRow(*r) for r in dim_rows],
        out_dir,
        arrays=arrays,
        unsigned=unsigned,
        compression=compression,
        serialization=serialization,
        on_error=on_error,
        mode=mode,
        evolve=evolve,
        conns_write_rows=conns_write_rows,
        sidecars=_sidecar_rows(metas, base_bag_index),
        base_bag_index=base_bag_index,
    )
    return ConvertInfo(
        bagname=",".join(os.path.basename(p) for p in paths),
        count=count,
        size=size,
    )


def pertype_with_provenance(
    spark: SparkSession, out_dir: str, table: str
) -> DataFrame:
    """Per-type rows WITH file provenance — the user-visible end of the
    reference TODO (FlattenedRosWriter.cpp:183 "we should add a file ID
    to all entries"). Since r11 every converter stamps ``bag_index`` into
    the per-type tables at write time (map-side free), so the normal path
    here is a PROJECTION plus a literal name lookup — nothing shuffles at
    any scale. Pre-r11 per-type tables lack the stamp and fall back to
    a join against ``Messages`` projected to its (seqno, bag_index) pair
    (seqno is the cross-table key, reference README.md:119-121; the
    Messages side is column-pruned to 12 bytes/row, but the per-type side
    does hash-shuffle on seqno — exactly the cost the write-time stamp
    removes). Either way ``bag_index`` resolves to the source bag's NAME
    via the ``Bags`` fleet manifest (every `convert_bags` layout has one;
    the Metadata side-car serves older/MCAP-only layouts; a
    DataFrame-stream layout has no files, so ``bag`` stays NULL there).

    Planning runs no Spark job: the schemas come from the footers
    (`read_layout_table`) and the name dim is read on the driver
    (`_bag_names`). It resolves as one folded literal indexed by the
    ordinal (O(1) per row) with the left join's answer: ``bag_index``
    first, then the other columns, then ``bag``; NULL for an ordinal the
    dim lacks, one row per name where an ordinal carries two. A broadcast
    of the dim would cost a job of its own."""
    pertype = read_layout_table(spark, out_dir, table)
    mixed = os.path.isfile(
        os.path.join(out_dir, table, _BAG_INDEX_MIXED_MARKER)
    )
    cols = pertype.columns
    # The fast path requires the stamp in the STAMPED position — after the
    # raw `data` blob (trailing for bag layouts, before `datatype` for the
    # stream layout). A pre-r11 table whose PAYLOAD had a field named
    # bag_index (the name only became RESERVED with the r11 stamp) carries
    # that payload column among the value columns — i.e. BEFORE data —
    # with no mixed marker; trusting it by name alone would serve payload
    # values as provenance ordinals. Positional dispatch sends such tables
    # to the always-correct seqno join instead.
    stamped = (
        "bag_index" in cols
        and "data" in cols
        and cols.index("bag_index") > cols.index("data")
    )
    if stamped and not mixed:
        out = pertype  # write-time stamp: projection only, no join
    else:
        # No stamp anywhere (pre-r11 table, or a payload column squatting
        # on the name pre-reservation), or a MIXED-vintage table
        # (evolve-append added the stamp to later files only, leaving the
        # marker — the mergeSchema read would NULL-fill pre-append rows
        # whose ordinals Messages still records): resolve via the seqno
        # join, which is complete for every vintage Messages covers.
        msgs = read_layout_table(spark, out_dir, "Messages")
        if "bag_index" in msgs.columns:
            msgs = msgs.select("seqno", "bag_index")
        else:
            # pre-r10 vintage: Messages never gained the provenance column
            # (appends into such a layout project it away — per-row
            # ordinals genuinely don't exist there), so every row reads
            # NULL rather than crashing the resolve
            msgs = msgs.select(
                "seqno", F.lit(None).cast("int").alias("bag_index")
            )
        # drop the partial mergeSchema column (mixed vintage) so the join
        # provides THE bag_index — never two same-named columns
        out = pertype.drop("bag_index").join(msgs, "seqno")
    names = _bag_names(out_dir)
    if names is None:
        return out.withColumn("bag", F.lit(None).cast("string"))
    lookup = F.from_json(F.lit(json.dumps(names)), "array<array<string>>")
    return out.select(
        "bag_index",
        *[c for c in out.columns if c != "bag_index"],
        F.explode_outer(F.get(lookup, F.col("bag_index"))).alias("bag"),
    )


def _bag_names(out_dir: str) -> "list | None":
    """The name dim of a layout, read on the driver: entry i lists the
    names of bag ordinal i (None where no side-car row names it); None
    when the layout has neither side-car. The dim UNIONS both side-cars:
    a pre-Bags layout appended into by a newer converter has a PARTIAL
    manifest (only the appended ordinals) while the Metadata side-car
    still names the older bags — preferring one table alone would NULL
    the other's names. Both derive the name from basename(path), so
    same-ordinal rows agree and collapse to one."""
    import pyarrow.parquet as pq

    paths = [
        os.path.join(out_dir, side_car) for side_car in ("Bags", "Metadata")
    ]
    paths = [p for p in paths if os.path.isdir(p)]
    if not paths:
        return None
    pairs: dict = {}
    for p in paths:
        t = pq.read_table(p, columns=["bag_index", "bag"])
        pairs.update(dict.fromkeys(zip(*(c.to_pylist() for c in t.columns))))
    ordinals = [i for i, _ in pairs if i is not None and i >= 0]
    names: list = [None] * (max(ordinals) + 1 if ordinals else 0)
    for i, name in pairs:
        if i is not None and i >= 0:
            names[i] = [*(names[i] or []), name]
    return names
