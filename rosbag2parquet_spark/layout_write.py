"""The layout write of every bag convert: one Spark job, then renames.

The reference writes every table in one pass over the bag, buffering each
type's rows into row groups (FlattenedRosWriter.cpp:226-271,
TableBuffer.cpp:10-58, 164-174). Here one ``mapInArrow`` over the numbered
scan does the same per task (:func:`write_task`): it routes each Arrow
batch by connection to the type's decode tier in-process
(`sources.decode.decode_columns`), streams ``Messages`` and every
per-type table through pyarrow ``ParquetWriter``s into a staging dir under
the layout, and yields one commit row per file it wrote plus a
per-connection ``Stats`` partial (:data:`COMMIT_SCHEMA`).

The driver then writes the small tables from rows it already holds
(:func:`write_rows`) and publishes only the committed files by rename
(:func:`publish`); files a failed or speculative task attempt left in
staging are never listed, and staging is removed whatever happens. A
convert that fails before the publish leaves the layout as it was.

Files look like Spark's: each footer carries the Spark schema and version
keys (:data:`SPARK_SCHEMA_KEY`, :data:`SPARK_VERSION_KEY`), so
``spark.read.parquet`` sees the same logical types, reads INT96 as a file
Spark wrote, and a reader can plan from the footers alone
(`convert.footer_schema`). TimestampType columns are INT96 as Spark writes
them; pyarrow reads them back as ``timestamp[ns]``.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import types as T

#: one row per file a task wrote (``path`` relative to the staging dir)
#: and one per connection a task saw (``table`` = :data:`STATS`, no
#: ``path``): rows, payload bytes and time range of the connection's
#: messages in that task; a task that failed to write reports only an
#: ``error`` row
COMMIT_SCHEMA = T.StructType([
    T.StructField(name, typ, True) for name, typ in (
        ("table", T.StringType()), ("path", T.StringType()),
        ("rows", T.LongType()), ("bytes", T.LongType()),
        ("seqno_min", T.LongType()), ("seqno_max", T.LongType()),
        ("time_min", T.LongType()), ("time_max", T.LongType()),
        ("connection_id", T.IntegerType()), ("error", T.StringType()),
    )
])

STATS = "Stats"
MESSAGES = "Messages"

#: rows buffer per table up to this many bytes before they land as one
#: row group (Spark's ``parquet.block.size``)
ROW_GROUP_BYTES = 128 << 20

#: the converter's codec names -> pyarrow's
_CODECS = {
    "snappy": "snappy", "zstd": "zstd", "gzip": "gzip", "lz4": "lz4",
    "uncompressed": "none",
}

#: the Messages table (reference README.md:26-32 plus the trailing
#: header-stamp pair, derived timestamp and provenance ordinal)
MESSAGES_SCHEMA = T.StructType([
    T.StructField("seqno", T.LongType(), False),
    T.StructField("time_sec", T.IntegerType(), True),
    T.StructField("time_nsec", T.IntegerType(), True),
    T.StructField("size", T.IntegerType(), False),
    T.StructField("connection_id", T.IntegerType(), False),
    T.StructField("header_stamp_sec", T.IntegerType(), True),
    T.StructField("header_stamp_nsec", T.IntegerType(), True),
    T.StructField("time", T.TimestampType(), True),
    T.StructField("bag_index", T.IntegerType(), False),
])

#: per-connection batch statistics (reference TODO #2/#2.1)
STATS_SCHEMA = T.StructType([
    T.StructField("connection_id", T.IntegerType(), False),
    T.StructField("n_messages", T.LongType(), False),
    T.StructField("min_time_ns", T.LongType(), True),
    T.StructField("max_time_ns", T.LongType(), True),
    T.StructField("total_bytes", T.LongType(), True),
])


#: the footer keys Spark writes: its schema of the file (JSON) and the
#: writer's version (without it, Spark reads INT96 under the session's
#: rebase mode instead of as its own files)
SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"
SPARK_VERSION_KEY = "org.apache.spark.version"


def arrow_schema(schema: T.StructType, spark_version: str) -> pa.Schema:
    """The Arrow schema a table's files are written with, footer keys
    included: Spark reads its own schema key back as the table's logical
    types."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(schema).with_metadata({
        SPARK_VERSION_KEY: spark_version,
        SPARK_SCHEMA_KEY: schema.json(),
    })


def _open_writer(path: str, schema: pa.Schema, codec: str) -> pq.ParquetWriter:
    # store_schema=False would drop the schema's key-value metadata, and
    # with it both Spark keys
    return pq.ParquetWriter(
        path, schema, compression=_CODECS[codec],
        use_deprecated_int96_timestamps=True, store_schema=True,
    )


def file_name(partition: int, job: str, attempt: int, n: int) -> str:
    """A task attempt's ``n``-th file of a table: the partition keeps the
    split order in listings, the attempt id keeps a retry or a speculative
    copy from landing on the same name."""
    return f"part-{partition:05d}-{job}-a{attempt}-c{n:03d}.parquet"


@dataclass
class Group:
    """Connections of one table decoded with one definition: ``tier`` is
    `sources.decode.payload_tier`'s ``(flat, decode, decode_batch)``, or
    None for a blob-only table."""

    table: str
    conn_ids: list
    tier: "tuple | None"


@dataclass
class WritePlan:
    """Everything a task needs, built on the driver."""

    staging: str
    job: str
    codec: str
    max_records: int
    on_error: str
    base_bag_index: int
    #: table -> Arrow schema of its files (Messages and every per-type table)
    schemas: dict
    groups: list
    #: [(payload offset, connection ids)] of Header-led types, and the
    #: little-endian encapsulation ids CDR stamps must carry
    stamps: list = field(default_factory=list)
    le_ids: tuple = ()


class _TableWriter:
    """One table's files in one task attempt: batches buffer to
    :data:`ROW_GROUP_BYTES`, each flush is one row group, and a file closes
    at ``max_records`` rows (Spark's ``maxRecordsPerFile``)."""

    def __init__(self, plan: WritePlan, table: str, prefix: tuple):
        self.plan, self.table, self.prefix = plan, table, prefix
        self.schema = plan.schemas[table]
        self.pending: list = []  # (batch, seqno, time_ns)
        self.pending_bytes = 0
        self.writer = None
        self.n_files = 0
        self.commits: list = []

    def add(self, batch: pa.RecordBatch, seqno, time_ns) -> None:
        self.pending.append((batch, seqno, time_ns))
        self.pending_bytes += batch.nbytes
        if self.pending_bytes >= ROW_GROUP_BYTES:
            self.flush()

    def flush(self) -> None:
        while self.pending:
            if self.writer is None:
                self._open()
            room = self.plan.max_records - self.rows
            take, n = [], 0
            while self.pending and n < room:
                batch, seqno, t = self.pending.pop(0)
                if n + batch.num_rows > room:
                    k = room - n
                    self.pending.insert(
                        0, (batch.slice(k), seqno[k:], t[k:])
                    )
                    batch, seqno, t = batch.slice(0, k), seqno[:k], t[:k]
                take.append(batch)
                n += batch.num_rows
                self._extend(seqno, t)
            table = pa.Table.from_batches(take, self.schema)
            self.writer.write_table(table, row_group_size=max(1, n))
            self.rows += n
            if self.rows >= self.plan.max_records:
                self._close()
        self.pending_bytes = 0

    def _open(self) -> None:
        partition, attempt = self.prefix
        rel = os.path.join(
            self.table, file_name(partition, self.plan.job, attempt, self.n_files)
        )
        self.n_files += 1
        self.rel = rel
        self.writer = _open_writer(
            os.path.join(self.plan.staging, rel), self.schema, self.plan.codec
        )
        self.rows = 0
        self.ranges = None

    def _extend(self, seqno, t) -> None:
        if not len(seqno):
            return
        r = (int(seqno.min()), int(seqno.max()), int(t.min()), int(t.max()))
        if self.ranges is None:
            self.ranges = r
        else:
            a = self.ranges
            self.ranges = (min(a[0], r[0]), max(a[1], r[1]),
                           min(a[2], r[2]), max(a[3], r[3]))

    def _close(self) -> None:
        self.writer.close()
        self.writer = None
        lo, hi, t_lo, t_hi = self.ranges
        self.commits.append({
            "table": self.table, "path": self.rel, "rows": self.rows,
            "bytes": os.path.getsize(os.path.join(self.plan.staging, self.rel)),
            "seqno_min": lo, "seqno_max": hi, "time_min": t_lo, "time_max": t_hi,
        })

    def finish(self) -> list:
        self.flush()
        if self.writer is not None:
            self._close()
        return self.commits

    def abort(self) -> None:
        if self.writer is not None:
            self.writer.close()
            self.writer = None


def _binary_parts(data: pa.Array) -> "tuple[np.ndarray, np.ndarray]":
    """(per-row start offsets into the value bytes, the value bytes) of a
    binary array, without copying."""
    wide = pa.types.is_large_binary(data.type)
    offs = np.frombuffer(data.buffers()[1], dtype=np.int64 if wide else np.int32)
    offs = offs[data.offset : data.offset + len(data) + 1]
    buf = data.buffers()[2]
    vals = np.frombuffer(buf, dtype=np.uint8) if buf is not None else np.zeros(0, np.uint8)
    return offs, vals


def header_stamps(plan: WritePlan, conn: np.ndarray, data: pa.Array):
    """The nullable ``header_stamp_sec``/``header_stamp_nsec`` pair:
    connections whose type leads with a fixed-prefix Header read the
    little-endian int32 pair at the stamp's payload offset; a payload too
    short for it, a CDR payload that is not little-endian, and every other
    connection are NULL (reference TODO #6, rosbag2parquet.cpp:27)."""
    n = len(conn)
    sec = np.zeros(n, np.int32)
    nsec = np.zeros(n, np.int32)
    hit = np.zeros(n, bool)
    if plan.stamps and n:
        offs, vals = _binary_parts(data)
        starts, lens = offs[:-1].astype(np.int64), np.diff(offs)
        for off, ids in plan.stamps:
            rows = np.flatnonzero(np.isin(conn, ids) & (lens >= off + 8))
            if plan.le_ids and len(rows):
                rows = rows[np.isin(vals[starts[rows] + 1], plan.le_ids)]
            if not len(rows):
                continue
            pair = vals[starts[rows, None] + off + np.arange(8)]
            pair = pair.view("<i4").reshape(-1, 2)
            sec[rows], nsec[rows] = pair[:, 0], pair[:, 1]
            hit[rows] = True
    return (
        pa.array(sec, pa.int32(), mask=~hit),
        pa.array(nsec, pa.int32(), mask=~hit),
    )


def _bag_index(plan: WritePlan, batch: pa.RecordBatch) -> pa.Array:
    if "bag_index" in batch.schema.names:
        return pc.add(batch.column("bag_index"), pa.scalar(plan.base_bag_index, pa.int32()))
    return pa.array(np.full(batch.num_rows, plan.base_bag_index, np.int32))


def messages_batch(plan: WritePlan, batch: pa.RecordBatch, bag_index) -> pa.RecordBatch:
    """The Messages rows of a scan batch: the ns timestamp split per floor
    semantics (a pre-1970 stamp keeps a non-negative nsec), the payload
    size, the header stamp and the microsecond TimestampType view."""
    t = batch.column("time_ns").to_numpy()
    data = batch.column("data")
    conn = batch.column("conn_id").to_numpy()
    hs_sec, hs_nsec = header_stamps(plan, conn, data)
    cols = {
        "seqno": batch.column("seqno"),
        # a checked cast: a time past the int32 second range fails like
        # Spark's ANSI cast instead of wrapping
        "time_sec": pa.array(t // 1_000_000_000).cast(pa.int32()),
        "time_nsec": pa.array((t % 1_000_000_000).astype(np.int32)),
        "size": pc.binary_length(data),
        "connection_id": batch.column("conn_id"),
        "header_stamp_sec": hs_sec,
        "header_stamp_nsec": hs_nsec,
        "time": pa.array(t // 1000, pa.timestamp("us", tz="UTC")),
        "bag_index": bag_index,
    }
    schema = plan.schemas[MESSAGES]
    return pa.RecordBatch.from_arrays([cols[n] for n in schema.names], schema=schema)


def arrow_column(values, typ: pa.DataType) -> pa.Array:
    """A decoded column as Arrow: NaN stays a float value (never NULL),
    and a value the type cannot hold raises."""
    if isinstance(values, np.ndarray) and values.ndim == 1:
        values = np.ascontiguousarray(values)
    return pa.array(values, type=typ, from_pandas=False, safe=True)


def pertype_batch(
    plan: WritePlan, group: Group, decode, sub: pa.RecordBatch, bag_index
) -> pa.RecordBatch:
    """The per-type rows of one group's slice of a scan batch, in the
    table's column order; a table column this group's definition lacks is
    NULL (definition versions under evolve, or the layout's union)."""
    schema = plan.schemas[group.table]
    cols = {
        "seqno": sub.column("seqno"),
        "connection_id": sub.column("conn_id"),
        "data": sub.column("data"),
        "bag_index": bag_index,
    }
    if decode is not None:
        decoded = decode(sub.column("data").to_pylist())
        for f in schema:
            if f.name in decoded:
                cols[f.name] = arrow_column(decoded[f.name], f.type)
    n = sub.num_rows
    return pa.RecordBatch.from_arrays(
        [cols[f.name] if f.name in cols else pa.nulls(n, f.type) for f in schema],
        schema=schema,
    )


def _stats_partials(stats: dict, conn, t, size) -> None:
    """Fold one batch into ``stats``: conn -> [n, min t, max t, bytes]."""
    agg = (
        pa.table({"c": conn, "t": t, "b": pc.cast(size, pa.int64())})
        .group_by("c")
        .aggregate([("t", "count"), ("t", "min"), ("t", "max"), ("b", "sum")])
    )
    for c, n, lo, hi, b in zip(*(agg.column(k).to_pylist() for k in (
        "c", "t_count", "t_min", "t_max", "b_sum"
    ))):
        s = stats.get(c)
        if s is None:
            stats[c] = [n, lo, hi, b]
        else:
            stats[c] = [s[0] + n, min(s[1], lo), max(s[2], hi), s[3] + b]


def write_task(plan: WritePlan):
    """The ``mapInArrow`` function of the layout write (see the module
    docstring); yields :data:`COMMIT_SCHEMA` rows."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from rosbag2parquet_spark.sources.decode import decode_columns

    def run(batches):
        ctx = TaskContext.get()
        prefix = (ctx.partitionId(), ctx.taskAttemptId())
        for table in plan.schemas:
            os.makedirs(os.path.join(plan.staging, table), exist_ok=True)
        decoders = [
            None if g.tier is None else decode_columns(
                g.tier[0], g.tier[1], on_error=plan.on_error,
                decode_batch=g.tier[2],
            )[1]
            for g in plan.groups
        ]
        conn_ids = [np.array(g.conn_ids, np.int32) for g in plan.groups]
        writers: dict = {}
        stats: dict = {}

        def writer(table: str) -> _TableWriter:
            if table not in writers:
                writers[table] = _TableWriter(plan, table, prefix)
            return writers[table]

        def write(batch: pa.RecordBatch) -> None:
            seqno = batch.column("seqno").to_numpy()
            t = batch.column("time_ns").to_numpy()
            conn = batch.column("conn_id").to_numpy()
            bag_index = _bag_index(plan, batch)
            msgs = messages_batch(plan, batch, bag_index)
            _stats_partials(stats, conn, t, msgs.column("size"))
            writer(MESSAGES).add(msgs, seqno, t)
            # each group's rows, in seqno order
            for group, ids, decode in zip(plan.groups, conn_ids, decoders):
                idx = np.flatnonzero(np.isin(conn, ids))
                if not len(idx):
                    continue
                whole = len(idx) == batch.num_rows
                sub = batch if whole else batch.take(pa.array(idx))
                sub_bi = bag_index if whole else bag_index.take(pa.array(idx))
                writer(group.table).add(
                    pertype_batch(plan, group, decode, sub, sub_bi),
                    seqno[idx], t[idx],
                )

        error = None
        for batch in batches:
            if error is not None or not batch.num_rows:
                continue
            try:
                write(batch)
            except Exception as exc:
                # an undecodable payload (or any write failure) is reported
                # in the commit rows, and the rest of the split is still
                # read: the scan's own count checks run to the end, so an
                # inconsistent container index wins over a decode error
                # whichever task finishes first
                error = f"{type(exc).__name__}: {exc}"
                for w in writers.values():
                    w.abort()
        if error is not None:
            yield pa.RecordBatch.from_pylist(
                [{"error": error}], schema=to_arrow_schema(COMMIT_SCHEMA)
            )
            return
        commits = [c for w in writers.values() for c in w.finish()]
        commits += [
            {"table": STATS, "rows": n, "bytes": b, "time_min": lo,
             "time_max": hi, "connection_id": c}
            for c, (n, lo, hi, b) in sorted(stats.items())
        ]
        if commits:
            yield pa.RecordBatch.from_pylist(
                commits, schema=to_arrow_schema(COMMIT_SCHEMA)
            )

    return run


def stats_rows(commits: list) -> list:
    """The batch's ``Stats`` rows, merged from every task's partials."""
    merged: dict = {}
    for r in commits:
        if r["table"] != STATS:
            continue
        s = merged.get(r["connection_id"])
        part = [r["rows"], r["time_min"], r["time_max"], r["bytes"]]
        merged[r["connection_id"]] = part if s is None else [
            s[0] + part[0], min(s[1], part[1]), max(s[2], part[2]), s[3] + part[3]
        ]
    return [(c, *v) for c, v in sorted(merged.items())]


def make_staging(out_dir: str) -> str:
    """A fresh staging dir under ``out_dir`` (underscore-prefixed, so
    parquet listings of the layout ignore it)."""
    path = os.path.join(os.path.abspath(out_dir), f"_staging-{uuid.uuid4().hex}")
    os.makedirs(path)
    return path


def write_rows(
    staging: str, table: str, rows: list, schema: pa.Schema, codec: str, job: str
) -> dict:
    """A driver-held table (Connections, Stats, the side-cars, or an empty
    per-type table) as one staged file; returns its commit row."""
    rel = os.path.join(table, file_name(0, job, 0, 0))
    path = os.path.join(staging, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    batch = pa.RecordBatch.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema
    )
    with _open_writer(path, schema, codec) as w:
        w.write_table(pa.Table.from_batches([batch], schema))
    return {
        "table": table, "path": rel, "rows": len(rows),
        "bytes": os.path.getsize(path),
    }


def publish_table(table_dir: str, files: list, overwrite: bool) -> None:
    """Move one table's staged ``files`` into ``table_dir``: appended
    beside the files already there, or (``overwrite``) swapped in as the
    whole table."""
    if overwrite:
        # built beside the table under an underscore name (ignored by
        # parquet listings), then swapped in
        fresh = os.path.join(
            os.path.dirname(table_dir), f"_swap-{uuid.uuid4().hex}"
        )
        os.makedirs(fresh)
        for f in files:
            os.rename(f, os.path.join(fresh, os.path.basename(f)))
        open(os.path.join(fresh, "_SUCCESS"), "w").close()
        if os.path.isdir(table_dir):
            shutil.rmtree(table_dir)
        os.rename(fresh, table_dir)
        return
    os.makedirs(table_dir, exist_ok=True)
    for f in files:
        os.rename(f, os.path.join(table_dir, os.path.basename(f)))
    open(os.path.join(table_dir, "_SUCCESS"), "w").close()


def publish(
    out_dir: str,
    staging: str,
    commits: list,
    *,
    overwrite: bool,
    markers: "dict[str, str] | None" = None,
) -> None:
    """Publish exactly the committed files of every table (in commit-list
    table order) and remove ``staging``. ``markers`` maps a table to a
    marker file that lands in its dir before its files do."""
    try:
        by_table: dict = {}
        for r in commits:
            if r["path"] is not None:
                by_table.setdefault(r["table"], []).append(
                    os.path.join(staging, r["path"])
                )
        for table, files in by_table.items():
            table_dir = os.path.join(out_dir, table)
            marker = (markers or {}).get(table)
            if marker is not None:
                with open(os.path.join(table_dir, marker), "w"):
                    pass  # empty marker; presence is the signal
            publish_table(table_dir, files, overwrite)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def footer_max(table_dir: str, column: str) -> "int | None":
    """The max of an integer ``column`` over a table's parquet files from
    their footer statistics — no scan job; only a file whose row groups
    lack statistics is read (that column alone). Files without the column
    (an older vintage) are skipped; None when no row has a value."""
    best = None
    if not os.path.isdir(table_dir):
        return None
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in sorted(files):
            if fn.startswith(("_", ".")) or not fn.endswith(".parquet"):
                continue
            path = os.path.join(root, fn)
            md = pq.ParquetFile(path).metadata
            names = [md.schema.column(i).path for i in range(md.num_columns)]
            if column not in names:
                continue
            i = names.index(column)
            got = None
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                if rg.num_rows == 0:
                    continue
                st = rg.column(i).statistics
                if st is None or not st.has_min_max:
                    if (
                        st is not None and st.has_null_count
                        and st.null_count == rg.num_rows
                    ):
                        continue  # an all-NULL row group holds no max
                    got = pq.read_table(path, columns=[column]).column(0)
                    got = pc.max(got).as_py()
                    break
                got = st.max if got is None else max(got, st.max)
            if got is not None:
                best = got if best is None else max(best, got)
    return best
