"""The end-to-end converter — the reference's whole program, Spark-first.

Reference lifecycle (``rosbag2parquet()``, rosbag2parquet.cpp:41-63 +
FlattenedRosWriter.cpp): scan the log once; per message emit metadata into
``Messages``; route the payload to a lazily-created per-type table with
flattened columns; attach ``connection_id`` and the raw blob; at close, write
``Connections`` and flush every table as SNAPPY parquet.

Every converter here writes that one layout: ``Messages``, ``Connections``,
``Stats``, one table per message type named by `table_name_for_type`
(reference README.md:2-4, MessageTable.cpp:315), the bag side-cars, and
the DDL script. The input differs, the write does not:

- a bag or a fleet of bags (`convert_bag`, `convert_bags`,
  `resume_convert_bag`): the driver plans the scan, and each write task
  reads its own split of the files;
- any DataFrame with (time, type, connection, payload) columns
  (`convert`; fixtures: the ``events`` table — FIXTURES.md §3): the
  stream is range-partitioned by its order key and cached, and each
  write task takes one partition.

Both number ``seqno`` by one rule: the driver prefix-sums each task's
rows (a bag's declared unit counts, else one count job) into per-task
bases, and each task numbers its rows from its base and checks their
count. Both then write through
`_write_layout`: one `layout_write.write_task` job decodes and writes
``Messages`` and every per-type table (files capped at
``_MAX_RECORDS_PER_FILE`` rows, row groups at
`layout_write.ROW_GROUP_BYTES`, the reference's 255 MB buffer,
TableBuffer.h:32), the driver writes the small tables, and one
`layout_write.publish` promotes them all.

Returns the same summary the reference's library API returns
(``info{bagname, count, size}``, rosbag2parquet.h:6-10).
"""

from __future__ import annotations

import functools
import hashlib
import itertools
import json
import os
import shutil
from dataclasses import dataclass

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rosbag2parquet_spark import layout_write as lw
from rosbag2parquet_spark.plans.ddl import load_script
from rosbag2parquet_spark.sources.catalog import read_parquet
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
    canon = ";".join(f"{f.name}:{f.dataType.simpleString()}" for f in schema.fields)
    return hashlib.md5(canon.encode()).hexdigest()


def table_schema(spark: SparkSession, table_dir: str) -> T.StructType:
    """A layout table's merged schema (`catalog.read_parquet` with
    ``merge``): from the footers when they resolve, else Spark's
    mergeSchema inference."""
    return read_parquet(spark, table_dir, merge=True).schema


def _read_existing_schema(spark: SparkSession, path: str):
    """The existing table's merged schema (`table_schema`), from the
    footers when they resolve. Files that carry conflicting types for one
    column (an externally produced table) fail the merge; that failure is
    re-raised as the append guard's structured refusal, so both guard
    paths refuse with the same never-silently-coerced message."""
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
    reference's md5 assert exists to catch. A layout written by an older
    converter (fewer Messages or per-type columns) is refused here too.

    ``evolve=True`` relaxes the guard to ADDITIVE evolution (the real-world
    fleet case the reference's hard md5 assert cannot ingest at all: a
    message definition gained or lost fields between recording sessions):
    columns present on BOTH sides must have identical types — a changed
    type is still refused — while added/removed columns are allowed; the
    caller pads the incoming batch to the union so every new file carries
    a superset schema. Returns the existing on-disk schema (None when the
    table doesn't exist yet) so the caller can pad.

    The existing schema is the merged one (`_read_existing_schema`): after
    evolve appends a table's files differ, and only the merged schema is
    their stable union."""
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


def read_layout_table(spark: SparkSession, layout_dir: str, table: str) -> DataFrame:
    """Read a converted-layout table under its MERGED schema: after
    ``evolve=True`` appends its files carry different (superset) schemas.
    The schema comes from the footers on the driver (`catalog.read_parquet`
    with ``merge``), so planning the read starts no Spark job."""
    return read_parquet(spark, os.path.join(layout_dir, table), merge=True)


#: codecs every Spark 3.5+/4.x build writes and every mainstream parquet
#: reader (Spark, DuckDB, pyarrow, Trino) reads back
_COMPRESSIONS = ("snappy", "zstd", "gzip", "lz4", "uncompressed")

#: rows per output parquet file, at most (Spark's ``maxRecordsPerFile``)
_MAX_RECORDS_PER_FILE = 1_000_000


def _check_options(mode: str, compression: str) -> None:
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    if compression not in _COMPRESSIONS:
        raise ValueError(
            f"compression must be one of {_COMPRESSIONS}, got {compression!r}"
        )


def convert(
    spark: SparkSession,
    stream: DataFrame,
    out_dir: str,
    *,
    time_col: str = "ts",
    type_col: str = "event_type",
    conn_col: str = "user_id",
    payload_col: str = "props",
    max_mbs: float | None = None,
    order_cols: list[str] | None = None,
    payload_schema=None,
    mode: str = "overwrite",
    compression: str = "snappy",
    bag_index: int = 0,
) -> ConvertInfo:
    """Convert a message-stream DataFrame into the layout every converter
    writes: ``Messages``, ``Connections``, ``Stats`` and one table per
    ``type_col`` value named by `table_name_for_type`, each holding
    seqno, the flattened payload, connection_id, the payload bytes as
    ``data`` and ``bag_index``. A connection is a distinct
    (``conn_col``, ``type_col``) pair; its ``callerid`` is ``conn_col``
    cast to string.

    ``seqno`` follows ``order_cols`` (default ``[time_col, conn_col]``;
    end them in a unique column for a well-defined total order). The
    stream is range-partitioned by them, sorted within each partition and
    cached; one count job returns each partition's rows, payload bytes
    and connection keys, and one write job numbers each partition from
    its base, checks its row count (a partition recomputed differently
    fails the convert instead of renumbering), and writes it through
    `layout_write.write_task`.

    ``payload_schema`` (a StructType of long, double, string, boolean,
    arrays of those and nested structs; another type is refused before
    any job) decodes ``payload_col`` as JSON into flattened columns; a
    payload that does not decode fails the convert. Without it the
    per-type tables keep the payload bytes only. ``size`` in Messages and
    ``total_bytes`` in Stats, like the returned size, are payload bytes.
    ``max_mbs`` keeps the rows whose running payload-byte sum in seqno
    order stays within the cap (reference rosbag2parquet.cpp:56-58).
    ``bag_index`` is the provenance ordinal stamped on every row.

    ``mode='append'`` continues seqno after the layout's max, keeps the
    ids of connections already in the dim and numbers new ones after
    them, and refuses a table whose schema fingerprint differs (the
    reference's md5sum identity check, FlattenedRosWriter.cpp:287).
    ``compression``: the reference hardcodes SNAPPY (MessageTable.cpp:
    324); ``zstd`` trades some CPU for smaller files. A convert that
    fails leaves the layout as it was."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from rosbag2parquet_spark.sources.container import CONN_SCHEMA
    from rosbag2parquet_spark.sources.jsonschema import struct_tier

    _check_options(mode, compression)
    tier = None if payload_schema is None else struct_tier(payload_schema)
    lw.repair(out_dir)  # an interrupted publish is settled before any read
    order = order_cols or [time_col, conn_col]
    rows = (
        stream.repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .select(
            (F.unix_micros(F.col(time_col)) * 1000).alias("time_ns"),
            F.col(type_col).alias("datatype"),
            F.col(conn_col).cast("string").alias("callerid"),
            F.col(conn_col).alias("conn"),
            F.col(payload_col).cast("binary").alias("data"),
        )
        .persist()
    )
    try:
        count_schema = T.StructType.fromDDL(
            f"part int, rows long, bytes long, conn "
            f"{stream.schema[conn_col].dataType.simpleString()}, "
            "callerid string, datatype string, first long"
        )
        got = rows.mapInArrow(
            functools.partial(_count_partition, to_arrow_schema(count_schema)),
            count_schema,
        ).collect()
        totals = sorted((r.part, r.rows, r.bytes) for r in got if r.rows is not None)
        counts = [n for _, n, _ in totals]
        bases = list(itertools.accumulate(counts, initial=_next_seqno(out_dir, mode)))
        byte_bases = list(itertools.accumulate((b for *_, b in totals), initial=0))
        cap = _max_bytes(max_mbs)

        # the dim: existing ids kept, the batch's new keys numbered after
        # them in (conn_col, type_col) order, NULLs first like Spark's sort
        old: list = []
        conn_path = os.path.join(out_dir, "Connections")
        if mode == "append" and os.path.isdir(conn_path):
            old = [ConnRow(*r) for r in sorted(_read_rows(conn_path))]
        dim = {}
        for r in old:
            dim.setdefault((r.callerid, r.datatype), r.connection_id)
        keys = {
            (r.callerid, r.datatype): r.conn for r in got
            if r.rows is None and (cap is None or byte_bases[r.part] + r.first <= cap)
        }
        new = sorted(
            (k for k in keys if k not in dim),
            key=lambda k: (keys[k] is not None, keys[k], k[1] is not None, k[1]),
        )
        new_rows = []
        for i, (callerid, datatype) in enumerate(
            new, max((r.connection_id for r in old), default=-1) + 1
        ):
            dim[(callerid, datatype)] = i
            ident = "|".join(x for x in (callerid, datatype) if x is not None)
            new_rows.append(ConnRow(
                i, None if datatype is None else f"/topic/{datatype}", datatype,
                hashlib.md5(ident.encode()).hexdigest(), "", callerid, None,
            ))
        by_type: dict = {}
        for r in old + new_rows:
            by_type.setdefault(r.datatype, []).append(r.connection_id)
        fields = [] if tier is None else list(tier[0].fields)

        def job(plan: lw.WritePlan) -> DataFrame:
            return rows.mapInArrow(
                _stream_task(plan, bases, byte_bases, cap, counts, dim),
                lw.COMMIT_SCHEMA,
            )

        count, size = _write_layout(
            spark, out_dir, mode=mode, compression=compression,
            types={t: [fields] for t in by_type},
            groups=[(t, ids, tier) for t, ids in by_type.items()],
            small={"Connections": (T.StructType.fromDDL(CONN_SCHEMA), new_rows)},
            job=job, base_bag_index=bag_index,
        )
    finally:
        rows.unpersist()
    return ConvertInfo(bagname=out_dir, count=count, size=size)


def _count_partition(schema, batches):
    """The count job of `convert`: one row with the partition's rows and
    payload bytes, and one per distinct (conn, callerid, datatype) key
    with the partition's running payload bytes at its first row, so the
    driver can tell which keys a ``max_mbs`` cap keeps. ``schema`` is the
    Arrow schema of the rows it yields."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark import TaskContext

    part = TaskContext.get().partitionId()
    rows = nbytes = 0
    first: dict = {}
    for b in batches:
        if not b.num_rows:
            continue
        running = nbytes + np.cumsum(
            pc.binary_length(b["data"]).to_numpy(), dtype=np.int64
        )
        agg = pa.table({
            "conn": b["conn"], "callerid": b["callerid"],
            "datatype": b["datatype"], "first": running,
        }).group_by(["conn", "callerid", "datatype"]).aggregate([("first", "min")])
        for key in zip(*(agg[c].to_pylist() for c in (
            "conn", "callerid", "datatype", "first_min"
        ))):
            first.setdefault(key[:3], key[3])
        rows += b.num_rows
        nbytes = int(running[-1])
    out = [{"part": part, "rows": rows, "bytes": nbytes}] + [
        {"part": part, "conn": c, "callerid": k, "datatype": t, "first": f}
        for (c, k, t), f in first.items()
    ]
    yield pa.RecordBatch.from_pylist(out, schema=schema)


def _stream_task(plan: lw.WritePlan, bases, byte_bases, cap, counts, dim):
    """The write job of `convert`: partition *i*'s rows numbered from
    ``bases[i]``, capped and count-checked (`container.number_rows`),
    their (callerid, datatype) keys resolved to connection ids through
    ``dim``, then written by `layout_write.write_task`."""
    import pyarrow as pa
    from pyspark import TaskContext

    from rosbag2parquet_spark.sources.container import COUNT_MISMATCH, number_rows

    write = lw.write_task(plan)

    def run(batches):
        i = TaskContext.get().partitionId()

        def scan_batches():
            for b in number_rows(
                batches, bases[i], byte_bases[i], cap, counts[i],
                lambda: f"stream partition {i}",
            ):
                keys = zip(b["callerid"].to_pylist(), b["datatype"].to_pylist())
                try:
                    ids = [dim[k] for k in keys]
                except KeyError as exc:
                    raise ValueError(
                        f"stream partition {i} holds the connection key "
                        f"{exc.args[0]} the count job did not see — "
                        f"{COUNT_MISMATCH}"
                    ) from None
                yield pa.record_batch(
                    [b["seqno"], b["time_ns"], pa.array(ids, pa.int32()), b["data"]],
                    names=["seqno", "time_ns", "conn_id", "data"],
                )

        yield from write(scan_batches())

    return run


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
    maxPartitionBytes. ``nbytes / parallelism`` rounds up: rounded down, a
    size the cores do not divide gets one split more than cores, a second
    wave."""
    per_core = -(-nbytes // max(1, parallelism))
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


def _publish(out_dir: str, staging: str, commits: list, mode: str) -> None:
    """`layout_write.publish` for a convert. An overwrite first removes the
    resume state: the cursor describes the layout being replaced, and only
    a complete `convert_bag` writes a fresh one, after the publish."""
    if mode == "overwrite" and os.path.exists(os.path.join(out_dir, INGEST_STATE)):
        os.remove(os.path.join(out_dir, INGEST_STATE))
    lw.publish(out_dir, staging, commits, overwrite=mode == "overwrite")


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
    lw.repair(out_dir)  # an interrupted publish is settled before any read
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
    # check relies on — enforce the invariant loudly.
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
    """The tail of every bag convert: ``scan`` is the numbered scan plan
    (`container.plan_scan` with ``seqno=True``: split bases 0.. over this
    batch, and any ``max_bytes`` cap already planned). Checks the type
    identities, picks each type's decode tier, and writes the layout
    through `_write_layout` in ONE Spark job of one task per split: task
    *i* reads split *i* (`container.read_split`), then decodes and writes
    Messages and every per-type table. Returns the batch's (count,
    payload bytes); a failed scan count check surfaces as its ValueError.

    Under append the split bases shift past the layout's max seqno (read
    from the footers; seqno is the cross-table join key, unique within
    the output, FlattenedRosWriter.cpp:57), and ``conns_write_rows`` (the
    genuinely-NEW dim rows only) lands on disk while the full
    ``conn_rows`` still drive the per-type decode. Both are driver-held
    rows (the reference snapshots the dim at open). ``sidecars`` are the
    side-car tables (name -> rows, `_sidecar_rows`)."""
    from rosbag2parquet_spark.sources.container import CONN_SCHEMA
    from rosbag2parquet_spark.sources.decode import decode_columns, payload_tier

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

    # one decode per DEFINITION VERSION: identical everywhere except evolve
    # mode, where connections of the same type may carry different defs —
    # each group decodes with ITS def and the table takes the union of
    # their columns
    types: dict = {}
    groups: list = []
    for datatype, cs in sorted(by_type.items()):
        defgroups: dict[str, list] = {}
        for c in cs:
            defgroups.setdefault(c.msg_def, []).append(c)
        for msg_def, gcs in sorted(defgroups.items()):
            tier = payload_tier(
                datatype, msg_def, serialization=serialization,
                arrays=arrays, unsigned=unsigned,
            )
            types.setdefault(datatype, []).append(
                [] if tier is None
                else decode_columns(tier[0], tier[1], on_error=on_error)[0]
            )
            groups.append((datatype, [c.connection_id for c in gcs], tier))

    first = _next_seqno(out_dir, mode)
    scan = scan._replace(bases=[b + first for b in scan.bases])
    stamps, le_ids = _header_stamp_plan(conn_rows, serialization)
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
    return _write_layout(
        spark, out_dir, mode=mode, compression=compression, on_error=on_error,
        evolve=evolve, types=types, groups=groups, small=small,
        job=lambda plan: split_job(spark, scan, lw.write_task(plan), lw.COMMIT_SCHEMA),
        base_bag_index=base_bag_index, stamps=stamps, le_ids=le_ids, scan=scan,
    )


def _next_seqno(out_dir: str, mode: str) -> int:
    """The batch's first seqno: 0, or under append one past the layout's
    max, read from the Messages footers."""
    if mode != "append":
        return 0
    prev = lw.footer_max(os.path.join(out_dir, "Messages"), "seqno")
    return 0 if prev is None else int(prev) + 1


def _table_names(datatypes) -> "dict[str, str]":
    """Each datatype's per-type table (`table_name_for_type`). A datatype
    is refused when its table would be a layout table
    (`layout_write.META_TABLES`), empty or hidden (leading ``_`` or
    ``.``: readers skip it), or the table of another datatype."""
    owner: "dict[str, str]" = {}
    for datatype in datatypes:
        table = table_name_for_type(datatype) if datatype else ""
        if not table or table.startswith(("_", ".")) or table in lw.META_TABLES:
            raise ValueError(
                f"datatype {datatype!r} cannot have a per-type table: "
                f"{table!r} is empty, hidden or a layout table"
            )
        if table in owner:
            raise ValueError(
                f"datatypes {owner[table]!r} and {datatype!r} both name the "
                f"per-type table {table!r}"
            )
        owner[table] = datatype
    return {datatype: table for table, datatype in owner.items()}


def _write_layout(
    spark: SparkSession,
    out_dir: str,
    *,
    mode: str,
    compression: str,
    types: dict,
    groups: list,
    small: dict,
    job,
    on_error: str = "fail",
    evolve: bool = False,
    base_bag_index: int = 0,
    stamps: list = (),
    le_ids: tuple = (),
    scan: "ScanPlan | None" = None,
) -> "tuple[int, float]":
    """The one layout write of every convert. ``types`` maps each datatype
    to the decoded value columns of each of its definition versions;
    ``groups`` lists ``(datatype, connection ids, decode tier)``; ``small``
    maps the driver-held tables (Connections, the side-cars) to
    ``(schema, rows)``; ``job(plan)`` is the DataFrame of
    `layout_write.write_task` commit rows. Writes ``Messages``, one
    flattened typed table per datatype, ``Stats``, the small tables and
    the DDL script, and returns the batch's (count, payload bytes) from
    the commit rows.

    Every refusal fires before the job: a datatype without a table of
    its own (`_table_names`), and under ``mode='append'`` a table whose
    schema fingerprint differs from the layout's (the reference's md5
    identity check, FlattenedRosWriter.cpp:287; ``evolve`` relaxes it to
    additive columns). The tasks stream their rows into a staging dir and
    commit their files and per-connection Stats partials; the driver
    writes the small tables from rows it holds and publishes the
    committed files (`layout_write.publish`). A convert that fails before
    the publish — a refused append, an undecodable payload under
    ``on_error='fail'`` — leaves the layout as it was."""
    _check_options(mode, compression)
    tables = _table_names(types)

    # ---- one flattened typed table per datatype (lazy per-type handlers,
    # reference FlattenedRosWriter.cpp:273-289): every table schema is
    # built and VALIDATED here, so every refusal — strict fingerprint
    # mismatch, evolve type conflict — fires before any file is written.
    # Column order per MessageTable.cpp:326-343 (seqno, flattened payload,
    # connection_id, raw blob) plus the trailing r11 provenance stamp,
    # which rides the scan batch like seqno and the blob, so stamping
    # per-type tables is map-side free.
    schemas: "dict[str, T.StructType]" = {}
    for datatype, versions in sorted(types.items()):
        table = tables[datatype]
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
            existing = assert_append_compatible(
                spark, table_path, schema, evolve=evolve
            )
            if evolve and existing is not None:
                # the fixed columns are not evolvable: a table without one
                # (say, no bag_index stamp) comes from an older converter,
                # and its old rows would read NULL provenance
                meta = ("seqno", "connection_id", "data", "bag_index")
                missing = [c for c in meta if c not in existing.names]
                if missing:
                    raise ValueError(
                        f"evolve-append to {table_path}: existing table "
                        f"lacks {missing} — re-convert it with this version"
                    )
                # pad the batch to the UNION schema: columns the layout has
                # that this batch's definition dropped land as NULLs, so
                # every new file carries a superset schema; earlier files
                # keep theirs — read evolved layouts with mergeSchema=true
                # (the DDL script and read_layout_table do)
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
    if mode == "append":
        # Messages, Stats and the side-cars: the same fingerprint guard —
        # the one provenance shape appends across batches
        for name, schema in (
            ("Messages", messages), ("Stats", lw.STATS_SCHEMA),
            *((n, sch) for n, (sch, _) in small.items() if n != "Connections"),
        ):
            assert_append_compatible(spark, os.path.join(out_dir, name), schema)
    schemas = {"Messages": messages, **schemas}

    # ---- the one job: each task decodes and writes its rows
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
        groups=[lw.Group(tables[d], ids, tier) for d, ids, tier in groups],
        stamps=list(stamps),
        le_ids=tuple(le_ids),
        scan=scan,
    )
    try:
        try:
            done = job(plan).collect()
        except PySparkException as exc:
            raise_count_error(exc)
            raise
        commits = [r.asDict() for r in done]
        failed = [r["error"] for r in commits if r["error"] is not None]
        if failed:
            raise ValueError(f"layout write failed: {failed[0]}")
        stats = lw.stats_rows(commits)
        small = {**small, "Stats": (lw.STATS_SCHEMA, stats)}
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
        _publish(out_dir, staging, commits, mode)
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
    lw.repair(out_dir)  # an interrupted publish is settled before any read
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
    # batches
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
    to all entries"). Every converter stamps ``bag_index`` into the
    per-type tables at write time, after the raw ``data`` blob, so this is
    a PROJECTION plus a literal name lookup — nothing shuffles at any
    scale. ``bag_index`` resolves to the source bag's NAME via the
    ``Bags`` manifest every bag convert writes; a DataFrame-stream layout
    has no files, so ``bag`` stays NULL there. A table without the stamp
    comes from an older converter and is refused.

    Planning runs no Spark job: the schema comes from the footers
    (`read_layout_table`) and the name dim is read on the driver
    (`_bag_names`). It resolves as one folded literal indexed by the
    ordinal (O(1) per row) with the left join's answer: ``bag_index``
    first, then the other columns, then ``bag``; NULL for an ordinal the
    dim lacks, one row per name where an ordinal carries two. A broadcast
    of the dim would cost a job of its own."""
    out = read_layout_table(spark, out_dir, table)
    cols = out.columns
    if "data" not in cols or "bag_index" not in cols[cols.index("data"):]:
        raise ValueError(
            f"{os.path.join(out_dir, table)}: no bag_index provenance "
            "column after data — a layout from an older converter; "
            "re-convert it"
        )
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
    """The name dim of a layout, read on the driver from its ``Bags``
    manifest: entry i lists the names of bag ordinal i (None where no row
    names it); None when the layout has no manifest."""
    import pyarrow.parquet as pq

    path = os.path.join(out_dir, "Bags")
    if not os.path.isdir(path):
        return None
    t = pq.read_table(path, columns=["bag_index", "bag"])
    pairs = dict.fromkeys(zip(*(c.to_pylist() for c in t.columns)))
    ordinals = [i for i, _ in pairs if i is not None and i >= 0]
    names: list = [None] * (max(ordinals) + 1 if ordinals else 0)
    for i, name in pairs:
        if i is not None and i >= 0:
            names[i] = [*(names[i] or []), name]
    return names
