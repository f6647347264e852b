"""Sink-side queries: demux routing (S3), parquet sink round-trip (S16).

Both run the full converter (:mod:`rosbag2parquet_spark.convert`) into a
scratch directory, then read the written layout back — exercising the write
path end-to-end the way the reference's golden test does
(rosbag2parquet_test.cpp:160-303: convert, then re-read with a raw parquet
reader and assert content).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rosbag2parquet_spark.convert import convert, pertype_with_provenance
from rosbag2parquet_spark.sources.catalog import load_table, publish_scratch

_SEQ_CONN_SQL = """
WITH seq AS (
  SELECT *, row_number() OVER (ORDER BY ts, event_id) - 1 AS seqno FROM events
),
conns AS (
  SELECT user_id, event_type,
         row_number() OVER (ORDER BY user_id, event_type) - 1 AS connection_id
  FROM (SELECT DISTINCT user_id, event_type FROM events)
)
"""


#: bump whenever the converter's OUTPUT SCHEMA changes (r8: Messages
#: gained the header-stamp pair, layouts gained Stats; r9: Messages
#: gained the derived TimestampType `time` column, reference TODO #7) —
#: the /tmp scratch below persists ACROSS processes, and a stale
#: pre-change layout under the old key would feed the driver's sink gate
#: a wrong schema
LAYOUT_CACHE_VERSION = 6  # files written by the one-job pyarrow layout write


def _cached_layout(sf_dir: str, suffix: str, build) -> str:
    """Shared scratch-dir discipline for converted-layout fixtures: a
    deterministic /tmp path tagged by sf_dir and LAYOUT_CACHE_VERSION
    (a converter-schema change can never serve a stale layout), built
    once into a unique work dir and atomically renamed into place — a
    concurrent run either wins the rename or reuses the winner's output,
    never interleaves writes. ``build(work_dir)`` runs the conversion."""
    tag = (
        f"{os.path.basename(os.path.normpath(sf_dir))}"
        f"{suffix}_v{LAYOUT_CACHE_VERSION}"
    )
    root = os.path.join(tempfile.gettempdir(), "rosbag2parquet_spark_out")
    out = os.path.join(root, tag)
    if not os.path.isdir(out):
        os.makedirs(root, exist_ok=True)
        work = tempfile.mkdtemp(prefix=f"{tag}_", dir=root)
        build(work)
        # a lost publish race drops the losing work dir; any non-race
        # failure re-raises (the r12-advisor rule, shared helper)
        publish_scratch(work, out)
    return out


def _converted_dir(spark: SparkSession, sf_dir: str) -> str:
    """Run the converter once per sf_dir into the shared scratch path."""

    def build(work: str) -> None:
        from rosbag2parquet_spark.operators.keys import PROPS_SCHEMA

        convert(
            spark,
            load_table(spark, sf_dir, "events"),
            work,
            order_cols=["ts", "event_id"],
            payload_schema=PROPS_SCHEMA,
        )

    return _cached_layout(sf_dir, "", build)


def q_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type demultiplexer (reference GetHandler, FlattenedRosWriter.cpp:
    273-289): after the partitioned write, reading ONE type touches one
    partition directory — the partition filter prunes all others (the
    reference's per-type scan isolation, README.md:2-4)."""
    out = _converted_dir(spark, sf_dir)
    pertype = spark.read.parquet(os.path.join(out, "pertype"))
    return (
        pertype.filter(F.col("datatype") == "purchase")
        .select(
            "seqno",
            F.unix_micros("time").alias("time_us"),
            "size",
            "k",  # flattened payload field (S5 applied inside the converter)
            "connection_id",
        )
    )


ORACLE_DEMUX = (
    _SEQ_CONN_SQL
    + """
SELECT seqno, epoch_us(ts) AS time_us, value AS size,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k, connection_id
FROM seq JOIN conns USING (user_id, event_type)
WHERE event_type = 'purchase'
"""
)


def q_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink round-trip (reference TableBuffer write path,
    TableBuffer.cpp:10-162): the ``Messages`` table as written to disk and
    read back — the reference's exact (seqno, time_sec, time_nsec, size,
    connection_id) layout — plus the nullable header-stamp pair every
    converter emits since r8 (reference TODO #6; NULL here: SBAG
    payloads are JSON, no leading ros Header), the derived TimestampType
    (TODO #7) and the r10 file-provenance ordinal (reference TODO
    FlattenedRosWriter.cpp:183; NULL here: the input is a stream, not a
    bag file) — must survive the sink."""
    out = _converted_dir(spark, sf_dir)
    return spark.read.parquet(os.path.join(out, "Messages"))


def _converted_fleet_dir(spark: SparkSession, sf_dir: str) -> str:
    """A two-batch FLEET conversion of the events stream into ONE layout
    (the shared `_cached_layout` scratch discipline): the stream splits
    at its time midpoint — every batch-0 row precedes every batch-1 row
    in the (ts, event_id) total order, so the appended seqno continues
    the global rank exactly — and each batch stamps its ordinal into
    Messages.bag_index (the DataFrame analog of convert_bags' per-bag
    provenance)."""

    def build(work: str) -> None:
        from rosbag2parquet_spark.operators.keys import PROPS_SCHEMA

        events = load_table(spark, sf_dir, "events")
        us = F.unix_micros(F.col("ts"))
        lo, hi = events.agg(F.min(us), F.max(us)).collect()[0]
        mid = (int(lo) + int(hi)) // 2
        for i, batch in enumerate(
            (events.filter(us < F.lit(mid)), events.filter(us >= F.lit(mid)))
        ):
            convert(
                spark,
                batch,
                work,
                order_cols=["ts", "event_id"],
                payload_schema=PROPS_SCHEMA,
                mode="overwrite" if i == 0 else "append",
                bag_index=i,
            )

    return _cached_layout(sf_dir, "_fleet", build)


def q_provenance_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance surfaced END TO END (reference TODO
    FlattenedRosWriter.cpp:183, SURVEY §7.1 r11 #3): a two-batch fleet
    conversion, then `pertype_with_provenance` — per-type rows joined to
    Messages' (seqno, bag_index) on the layout's seqno key — aggregated
    per (bag_index, datatype). The seqno ranges prove the append
    continued the global order (batch 1's lo = batch 0's hi + 1 within
    interleaved types); the oracle recomputes the midpoint split and the
    global rank from the raw events."""
    out = _converted_fleet_dir(spark, sf_dir)
    pt = pertype_with_provenance(spark, out, "pertype")
    return (
        pt.groupBy("bag_index", "datatype")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("seqno").cast("long").alias("seqno_lo"),
            F.max("seqno").cast("long").alias("seqno_hi"),
        )
        .orderBy("bag_index", "datatype")
    )


ORACLE_PROVENANCE_READ = """
WITH b AS (
  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid FROM events
),
seq AS (
  SELECT row_number() OVER (ORDER BY ts, event_id) - 1 AS seqno,
         event_type,
         CASE WHEN epoch_us(ts) < b.mid THEN 0 ELSE 1 END AS bag_index
  FROM events CROSS JOIN b
)
SELECT CAST(bag_index AS INTEGER) AS bag_index,
       event_type AS datatype,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(seqno) AS BIGINT) AS seqno_lo,
       CAST(max(seqno) AS BIGINT) AS seqno_hi
FROM seq GROUP BY 1, 2 ORDER BY 1, 2
"""


ORACLE_SINK = (
    _SEQ_CONN_SQL
    + """
SELECT seqno,
       CAST(epoch_us(ts) // 1000000 AS INTEGER) AS time_sec,
       CAST((epoch_us(ts) % 1000000) * 1000 AS INTEGER) AS time_nsec,
       value AS size, connection_id,
       CAST(NULL AS INTEGER) AS header_stamp_sec,
       CAST(NULL AS INTEGER) AS header_stamp_nsec,
       ts AS time,
       CAST(NULL AS INTEGER) AS bag_index
FROM seq JOIN conns USING (user_id, event_type)
"""
)


import uuid


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    bucket_col: str,
    n_buckets: int,
    path: str,
    sort_col: str | None = None,
) -> None:
    """Persist ``df`` as a hash-BUCKETED (optionally bucket-sorted) parquet
    table — the pre-shuffled layout for repeated key-joins and key-aggs:
    two tables bucketed the same way join with ZERO Exchange (each task
    reads matching bucket files from both sides), and a groupBy on the
    bucket column skips its shuffle entirely. At 100 TB this is the
    difference between re-shuffling the fact table on every query and
    paying the shuffle once at write time. The table is EXTERNAL (data at
    ``path``); metadata lands in the session catalog, which is what carries
    the bucketing spec to future scans."""
    w = (
        df.write.format("parquet")
        .mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(name)


def q_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join over bucketed layouts: lineitem and orders are first
    written bucketed by their join key (the pay-once shuffle), then joined
    — the merge-hinted join consumes bucket-aligned scans with NO Exchange
    on either side (plan-asserted in tests/test_bucketed.py). This is the
    layout the converter would emit for a fleet whose downstream is
    join-heavy; the correctness gate proves the bucketed path end-to-end
    (write → catalog → bucket-aware scan → join) against the plain SQL
    answer."""
    # uuid (not a session counter) so two concurrent drivers sharing one
    # warehouse dir can never collide on catalog table names
    n = uuid.uuid4().hex[:12]
    li_name, o_name = f"li_bucketed_{n}", f"orders_bucketed_{n}"
    root = tempfile.mkdtemp(prefix="bucket_join_")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    try:
        # r13 (guide §2.6): the two bucketed writes are independent jobs —
        # submitted from a 2-thread pool so the second write's tasks
        # back-fill executors freed by the first one's tail (saveAsTable
        # also serializes ~0.3 s of driver-side catalog work per table;
        # overlapping hides one of them). Job-description/conf state is
        # thread-local in Spark, and the two writes share no tables, so
        # this is pure overlap — the layouts are byte-identical to the
        # sequential ones.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fa = pool.submit(
                write_bucketed,
                spark, li, li_name, "l_orderkey", 8,
                os.path.join(root, li_name), "l_orderkey",
            )
            fb = pool.submit(
                write_bucketed,
                spark, orders, o_name, "o_orderkey", 8,
                os.path.join(root, o_name), "o_orderkey",
            )
            fa.result()
            fb.result()
        out = (
            spark.table(li_name)
            .hint("merge")
            .join(
                spark.table(o_name),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.round(
                    F.sum(
                        F.col("l_extendedprice").cast("decimal(18,4)")
                        * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
                    ),
                    2,
                )
                .cast("double")
                .alias("revenue"),
            )
            .localCheckpoint(eager=True)  # materialize before tables drop
        )
    finally:
        import shutil

        for t in (li_name, o_name):
            try:
                spark.sql(f"DROP TABLE IF EXISTS {t}")
            except Exception:
                pass
        shutil.rmtree(root, ignore_errors=True)
    return out


ORACLE_BUCKET_JOIN = """
SELECT o_orderstatus, count(*) AS n_items,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
         AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
"""


def write_clustered(
    df: DataFrame, path: str, cluster_col: str, n_files: int = 8
) -> None:
    """Persist range-CLUSTERED parquet: ``repartitionByRange`` +
    ``sortWithinPartitions`` on the cluster column, so each output file —
    and each row group inside it — covers a NARROW, near-disjoint value
    range. Parquet min/max statistics then prune whole row groups for any
    range predicate on that column: the write-side half of the scan-pruning
    loop (the reference relies on bag order giving time-clustered chunks,
    README.md:8; this makes the property explicit for ANY column).

    Timestamps are forced to INT64 micros for the write: the INT96 legacy
    default carries NO column statistics, which silently disables exactly
    the pruning this layout exists for."""
    spark = df.sparkSession
    key = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try:
        (
            df.repartitionByRange(n_files, F.col(cluster_col))
            .sortWithinPartitions(cluster_col)
            .write.mode("overwrite")
            .parquet(path)
        )
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def q_cluster_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered layout round-trip as a declared query: lineitem written
    range-clustered by l_shipdate, then a one-month range read back. The
    oracle is the plain filter over the original table — clustering must be
    semantically invisible; its VALUE (files cover near-disjoint ranges, so
    the filter prunes most row groups via min/max stats) is asserted
    against the parquet footers in tests/test_bucketed.py."""
    import shutil

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"
    )
    out = tempfile.mkdtemp(prefix="cluster_write_")
    try:
        write_clustered(li, os.path.join(out, "li"), "l_shipdate")
        back = (
            spark.read.parquet(os.path.join(out, "li"))
            .filter(
                (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
                & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
            )
            .select(
                "l_orderkey",
                "l_linenumber",
                F.unix_micros("l_shipdate").alias("ship_us"),
                "l_quantity",
            )
            .localCheckpoint(eager=True)  # materialize before the dir goes away
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return back


ORACLE_CLUSTER_WRITE = """
SELECT l_orderkey, l_linenumber, epoch_us(l_shipdate) AS ship_us, l_quantity
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


def zvalue(c1, c2, bits: int = 21):
    """Morton/Z-order interleave of two non-negative integer columns
    (bit i of c1 → bit 2i+1, bit i of c2 → bit 2i): rows close in Z are
    close in BOTH dimensions, so range-clustering on the Z-value gives
    min/max pruning on EITHER column — the Delta/Iceberg OPTIMIZE ZORDER
    construction, expressed in pure Catalyst bit arithmetic (whole-stage
    codegen, no UDF)."""
    z = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(
                F.shiftright(c1.cast("long"), i).bitwiseAND(one), 2 * i + 1
            )
        ).bitwiseOR(
            F.shiftleft(F.shiftright(c2.cast("long"), i).bitwiseAND(one), 2 * i)
        )
    return z


def write_zordered(
    df: DataFrame, path: str, col1: str, col2: str, n_files: int = 8,
    bits: int = 16,
) -> None:
    """Persist Z-ORDER clustered parquet on two columns: each column is
    first NORMALIZED to a ``bits``-wide integer over its own min/max (one
    tiny driver-side agg) — without this, the wider-ranged column's high
    bits dominate every z cut and the narrow column never bounds (the
    step every production z-order implementation performs) — then
    range-partition + sort on the interleaved Z-value and drop the
    helpers. Each output file then covers a bounded range of BOTH
    columns, so parquet min/max statistics prune for predicates on either
    one — what single-column clustering (write_clustered) cannot give.
    Normalization uses exact integer arithmetic (mul-then-div), so the
    layout is deterministic."""
    top = (1 << bits) - 1
    mm = df.agg(
        F.min(col1).alias("n1"), F.max(col1).alias("x1"),
        F.min(col2).alias("n2"), F.max(col2).alias("x2"),
    ).collect()[0]  # 4 scalars — the same snapshot the reference takes at open

    def scaled(col, lo, hi):
        if hi is None or lo is None or hi == lo:
            return F.lit(0).cast("long")
        return F.expr(
            f"(CAST({col} AS BIGINT) - {lo}) * {top} div {hi - lo}"
        )

    z = zvalue(scaled(col1, mm.n1, mm.x1), scaled(col2, mm.n2, mm.x2), bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def q_zorder_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout round-trip as a declared query: lineitem clustered on
    (l_partkey, l_suppkey), read back with a predicate on EACH dimension
    separately (the case the layout exists for), unioned. The oracle is
    the same pair of plain filters — clustering must be semantically
    invisible; the per-file two-dimensional range-boundedness is asserted
    against the parquet footers in tests/test_bucketed.py."""
    import shutil

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    out = tempfile.mkdtemp(prefix="zorder_write_")
    try:
        write_zordered(li, os.path.join(out, "li"), "l_partkey", "l_suppkey")
        back = spark.read.parquet(os.path.join(out, "li"))
        a = back.filter(F.col("l_partkey") < 100).withColumn(
            "probe", F.lit("partkey")
        )
        b = back.filter(F.col("l_suppkey") < 10).withColumn(
            "probe", F.lit("suppkey")
        )
        res = a.unionByName(b).select(
            "probe", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            "l_quantity",
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return res


ORACLE_ZORDER_WRITE = """
SELECT 'partkey' AS probe, l_orderkey, l_linenumber, l_partkey, l_suppkey,
       l_quantity
FROM lineitem WHERE l_partkey < 100
UNION ALL
SELECT 'suppkey', l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
FROM lineitem WHERE l_suppkey < 10
"""


def compact_files(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_col: "str | None" = None,
) -> int:
    """Small-file compaction — the OPTIMIZE bin-packing maintenance op a
    100 TB layout needs after streaming/demux writes leave thousands of
    KB-sized files (each file costs an open + a task at read time; the
    reference's single-writer design never fragments, README.md:8, but a
    distributed writer does). Returns the number of output files.

    Sizing is a driver-side LISTING of the input footprint (the same
    metadata snapshot Delta/Iceberg OPTIMIZE takes — no data read):
    n_files = ceil(total_bytes / target). Without ``cluster_col`` the
    rewrite is ``coalesce`` — a NO-SHUFFLE bin-packing of existing
    partitions into fewer tasks, the cheapest possible compaction. With
    ``cluster_col`` it re-runs the ``write_clustered`` range+sort so the
    compacted files KEEP near-disjoint min/max ranges — compaction must
    not destroy the scan-pruning property the clustered layout paid for."""
    total = 0
    for root, _dirs, files in os.walk(in_path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, -(-total // max(1, target_file_bytes)))
    df = spark.read.parquet(in_path)
    if cluster_col is None:
        df.coalesce(n_files).write.mode("overwrite").parquet(out_path)
    else:
        write_clustered(df, out_path, cluster_col, n_files=n_files)
    return n_files


def q_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction round-trip as a declared query: lineitem deliberately
    FRAGMENTED into 64 small files, compacted to a handful of
    target-sized files preserving the l_shipdate cluster order, read
    back. The oracle is the plain table projection — compaction must be
    content-invisible; the file-count/size bounds and the preserved
    min/max disjointness are asserted in tests/test_bucketed.py."""
    import shutil

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"
    )
    out = tempfile.mkdtemp(prefix="compact_files_")
    try:
        frag = os.path.join(out, "frag")
        li.repartition(64).write.parquet(frag)
        frag_bytes = sum(
            os.path.getsize(os.path.join(frag, f))
            for f in os.listdir(frag)
            if f.endswith(".parquet")
        )
        compact_files(
            spark,
            frag,
            os.path.join(out, "compact"),
            target_file_bytes=max(1, frag_bytes // 4),
            cluster_col="l_shipdate",
        )
        back = (
            spark.read.parquet(os.path.join(out, "compact"))
            .select(
                "l_orderkey",
                "l_linenumber",
                F.unix_micros("l_shipdate").alias("ship_us"),
                "l_quantity",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return back


ORACLE_COMPACT_FILES = """
SELECT l_orderkey, l_linenumber, epoch_us(l_shipdate) AS ship_us, l_quantity
FROM lineitem
"""


def compact_partitioned(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    partition_cols: "list[str]",
    target_file_bytes: "int | None" = None,
) -> None:
    """Partition-AWARE compaction: rewrite a hive-partitioned layout so
    each partition directory holds ~ceil(partition_bytes / target) files
    (ONE file when no target is given) — the per-partition OPTIMIZE a
    streaming demux layout needs: `partitionBy` writers emit one file per
    task per partition, so a 32-task write fragments every partition
    32-way.

    ONE job, ONE shuffle: ``repartition(partition_cols [+ salt])``
    hash-routes each partition's rows together (colliding partitions share
    a task but ``partitionBy`` still splits them into their own
    directories at write), so the whole table compacts without a
    per-partition driver loop — the shape that survives 10^5 partitions
    where one-job-per-partition dies on job-scheduling overhead.

    Skew: with ``target_file_bytes``, per-partition byte footprints come
    from a driver-side LISTING of the hive dirs (metadata only, like
    ``compact_files``) and a broadcast (partition → k) dim salts the
    shuffle key with ``pmod(xxhash64(*), k)`` — a 1 TB hot partition
    splits across k tasks/files instead of serializing through one."""
    df = spark.read.parquet(in_path)
    if target_file_bytes is None:
        n = max(1, df.select(*partition_cols).distinct().count())
        (
            df.repartition(n, *[F.col(c) for c in partition_cols])
            .write.partitionBy(*partition_cols)
            .mode("overwrite")
            .parquet(out_path)
        )
        return

    # per-partition-directory byte footprint: hive dir names are the
    # partition values (k1=v1/k2=v2/...) — a pure listing, no data read
    sizes: dict[tuple, int] = {}
    for root, _dirs, files in os.walk(in_path):
        rel = os.path.relpath(root, in_path)
        if rel == ".":
            continue
        parts = {}
        for seg in rel.split(os.sep):
            if "=" in seg:
                k, v = seg.split("=", 1)
                parts[k] = v
        if set(parts) != set(partition_cols):
            continue
        key = tuple(parts[c] for c in partition_cols)
        sizes[key] = sizes.get(key, 0) + sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    k_rows = [
        (*key, max(1, -(-b // target_file_bytes))) for key, b in sizes.items()
    ]
    if not k_rows:
        raise ValueError(f"{in_path}: no hive partition dirs for {partition_cols}")
    schema_cols = ", ".join(f"`{c}` string" for c in partition_cols)
    kdim = spark.createDataFrame(k_rows, f"{schema_cols}, __k int")
    # hive partition values read back typed; compare as strings
    on = [
        df[c].cast("string") == kdim[c] for c in partition_cols
    ]
    n_tasks = max(1, sum(k for *_, k in k_rows))
    salted = (
        df.join(F.broadcast(kdim), on, "left")
        .drop(*[kdim[c] for c in partition_cols])
        .withColumn(
            "__salt",
            F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
                   F.coalesce(F.col("__k"), F.lit(1))),
        )
    )
    (
        salted.repartition(
            n_tasks, *[F.col(c) for c in partition_cols], F.col("__salt")
        )
        .drop("__k", "__salt")
        .write.partitionBy(*partition_cols)
        .mode("overwrite")
        .parquet(out_path)
    )


#: hidden-file suffix for delete_where replacement files — dot-prefixed so
#: a reader that lists the directory mid-rewrite never sees them (Spark
#: skips names starting with '.' or '_')
_DEL_NEW_PREFIX = "."
_DEL_NEW_SUFFIX = ".delnew"


def delete_where(spark: SparkSession, path: str, predicate) -> dict:
    """Copy-on-write row DELETE over a plain parquet layout — the
    GDPR/TTL primitive (Delta/Iceberg ``DELETE WHERE`` semantics without
    a table format): ONLY files that CONTAIN matching rows are rewritten;
    every other file is left byte-identical — at 100 TB a targeted delete
    touches the handful of files the predicate lands in, not the table.

    Three steps:
    1. **Discover** affected files with one filtered scan projecting only
       ``_metadata.file_path`` — the predicate pushes to the parquet reader,
       so row-group statistics prune most files without reading data.
    2. **Rewrite** the survivors of each affected file in ONE distributed
       job: rows group by source file (``applyInPandas`` keyed on the file
       path, one task per affected file) and each task writes its
       replacement beside the original as a HIDDEN dot-file via pyarrow,
       preserving the file's physical schema (hive partition columns live
       in directory names, not the file — they are re-derived on read).
    3. **Swap** driver-side: ``os.replace`` promotes each hidden
       replacement over its original — atomic PER FILE on POSIX — and
       originals whose rows ALL matched are removed outright.

    Crash story (documented, same posture as the compaction swap): a
    crash in step 2 leaves only hidden files readers never see (a
    re-run sweeps stale ``.{name}.delnew`` leftovers first); a crash
    mid-step-3 leaves the delete applied to a prefix of the affected
    files — re-running the same delete completes it (matching rows are
    rediscovered only in the not-yet-swapped files). No transient state
    ever shows duplicate or partially-deleted FILES to a reader.

    Works on flat and hive-partitioned layouts (``basePath`` keeps
    partition columns readable for the predicate). Returns
    ``{"files_matched", "files_rewritten", "files_removed",
    "rows_deleted"}``."""
    import glob as _glob
    from urllib.parse import unquote, urlparse

    import pyarrow as pa
    import pyarrow.parquet as pq

    # sweep stale hidden replacements from a previous crashed run
    for stale in _glob.glob(
        os.path.join(path, "**", f"{_DEL_NEW_PREFIX}*{_DEL_NEW_SUFFIX}"),
        recursive=True,
    ):
        os.remove(stale)

    df = spark.read.option("basePath", path).parquet(path)
    hit = (
        df.select("*", F.col("_metadata.file_path").alias("__src"))
        .filter(predicate)
        .groupBy("__src")
        .agg(F.count(F.lit(1)).alias("__matches"))
        .collect()
    )
    files = {
        # bracket access: Row.__getattr__ refuses __-prefixed names
        unquote(urlparse(r["__src"]).path): int(r["__matches"]) for r in hit
    }
    if not files:
        return {
            "files_matched": 0, "files_rewritten": 0,
            "files_removed": 0, "rows_deleted": 0,
        }
    rows_deleted = sum(files.values())

    # one shuffle keyed on the source file: afterwards a file's surviving
    # rows live in exactly ONE task (a parquet scan partition can SPLIT a
    # large file across tasks — two tasks writing one replacement would
    # each write a partial file), and each task accumulates its files
    # across Arrow batches before writing. The rewrite stays Arrow
    # END-TO-END (mapInArrow, never pandas): a pandas hop would degrade
    # nullable ints to float64 and timestamps to ns — the replacement
    # must carry the file's EXACT physical types
    kept = (
        spark.read.option("basePath", path)
        .parquet(*sorted(files))
        .select("*", F.col("_metadata.file_path").alias("__src"))
        .filter(~predicate)
        .repartition(len(files), "__src")
    )

    def write_replacements(batches):
        import pyarrow.compute as pc

        from collections import defaultdict

        buf: dict = defaultdict(list)
        for batch in batches:
            t = pa.Table.from_batches([batch])
            for src_uri in pc.unique(t.column("__src")).to_pylist():
                buf[src_uri].append(
                    t.filter(pc.equal(t.column("__src"), src_uri))
                )
        out_src, out_kept = [], []
        for src_uri, parts in buf.items():
            src = unquote(urlparse(src_uri).path)
            rows = pa.concat_tables(parts)
            # the physical file schema (hive partition columns are NOT in
            # the file — they re-derive from the directory name on read)
            phys = pq.read_schema(src)
            # Spark's default parquet timestamps are INT96 (pyarrow maps
            # them to timestamp[ns]); writing them back as INT64
            # TIMESTAMP(NANOS) would make Spark's vectorized reader
            # refuse the replacement — mirror the source's INT96 choice
            src_md = pq.read_metadata(src).schema
            int96 = any(
                src_md.column(i).physical_type == "INT96"
                for i in range(len(src_md))
            )
            tmp = os.path.join(
                os.path.dirname(src),
                f"{_DEL_NEW_PREFIX}{os.path.basename(src)}{_DEL_NEW_SUFFIX}",
            )
            pq.write_table(
                rows.select(phys.names).cast(phys), tmp,
                compression="snappy",
                use_deprecated_int96_timestamps=int96,
            )
            out_src.append(src)
            out_kept.append(len(rows))
        if out_src:
            yield pa.record_batch(
                [pa.array(out_src, pa.string()),
                 pa.array(out_kept, pa.int64())],
                names=["src", "kept"],
            )

    wrote = {
        r.src: r.kept
        for r in kept.mapInArrow(
            write_replacements, schema="src string, kept long"
        ).collect()
    }

    rewritten = removed = 0
    for src in sorted(files):
        tmp = os.path.join(
            os.path.dirname(src),
            f"{_DEL_NEW_PREFIX}{os.path.basename(src)}{_DEL_NEW_SUFFIX}",
        )
        # Hadoop's LocalFileSystem keeps a `.{name}.crc` sidecar; after the
        # swap it describes the OLD bytes and every re-read would fail with
        # ChecksumException — drop it with the original
        crc = os.path.join(
            os.path.dirname(src), f".{os.path.basename(src)}.crc"
        )
        if os.path.exists(crc):
            os.remove(crc)
        if src in wrote:
            os.replace(tmp, src)  # atomic per file
            rewritten += 1
        else:
            # every row of this file matched: no replacement was written
            os.remove(src)
            removed += 1
    return {
        "files_matched": len(files),
        "files_rewritten": rewritten,
        "files_removed": removed,
        "rows_deleted": rows_deleted,
    }


def q_delete_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE as a declared query: events land as a
    16-file-per-partition hive layout (event_type dirs), a targeted
    predicate delete (user_id % 7 == 3) rewrites ONLY the files holding
    matches via `delete_where`, and the surviving layout is read back.
    The oracle is the complement select; the only-touched-files property
    (untouched files byte-identical, all-match files removed, hidden
    replacements invisible mid-flight) is pinned in tests/test_delete.py."""
    import shutil

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        "user_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
    )
    out = tempfile.mkdtemp(prefix="delete_rows_")
    try:
        lay = os.path.join(out, "lay")
        ev.repartition(8).write.partitionBy("event_type").parquet(lay)
        delete_where(spark, lay, F.col("user_id") % 7 == 3)
        back = (
            spark.read.parquet(lay)
            .select("event_id", "t_us", "user_id", "event_type", "value")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return back


ORACLE_DELETE_ROWS = """
SELECT event_id, epoch_us(ts) AS t_us, user_id, event_type,
       CAST(value AS DOUBLE) AS value
FROM events WHERE NOT (user_id % 7 = 3)
"""


def vacuum_layout(path: str, dry_run: bool = False) -> "list[str]":
    """VACUUM for a plain-parquet layout — GC of the crash artifacts every
    writer in this engine can leave behind, without a table format's
    manifest to diff against. Exactly four KNOWN artifact classes are
    handled; unknown files are NEVER touched (a half-written visible data
    file is indistinguishable from a valid one by name — only owners that
    write hidden-then-promote can be vacuumed safely, and all our writers
    do):

    - Spark ``_temporary/`` job scratch (a killed write job's staging)
    - orphan Hadoop ``.{name}.crc`` sidecars whose data file is gone
      (a swapped/removed file's stale checksum would fail later reads)
    - stale ``.{name}.delnew`` hidden replacements (a ``delete_where``
      run that crashed before promote; its own re-run also sweeps these)
    - interrupted ``.__compact_tmp``/``.__compact_old`` partition swaps —
      these are REPAIRED (finished or rolled back via the compaction
      service's crash-window logic), never just deleted: one of the two
      dirs may be the only live copy of the partition.

    Driver-side listing, same posture as the compaction sizers (metadata
    walk, no data read; on an object store this is the LIST call a
    manifest-less layout pays anyway). Not safe concurrently with an
    active writer on the same layout — the standard VACUUM caveat.
    Returns the removed (or, with ``dry_run``, would-be-removed) paths;
    repaired swaps are listed once per swap as ``repair:<live root>``
    (a crash can leave BOTH the tmp and old dir for one partition —
    still one repair)."""
    import shutil

    from rosbag2parquet_spark.streaming.compaction_service import (
        _OLD_SUFFIX,
        _TMP_SUFFIX,
        _repair_interrupted_swaps,
    )

    acted: "list[str]" = []
    # one repair entry per SWAP (keyed by the live partition root): an
    # interrupted swap can leave both .__compact_tmp and .__compact_old
    # for one partition — that is ONE repair, not two
    swap_roots: "set[str]" = set()
    for root, dirs, files in os.walk(path):
        for d in dirs:
            for suf in (_TMP_SUFFIX, _OLD_SUFFIX):
                if d.endswith(suf):
                    live = os.path.join(root, d[: -len(suf)])
                    if live not in swap_roots:
                        swap_roots.add(live)
                        acted.append("repair:" + live)
    if swap_roots and not dry_run:
        _repair_interrupted_swaps(path)

    for root, dirs, files in os.walk(path, topdown=True):
        for d in list(dirs):
            if d == "_temporary":
                p = os.path.join(root, d)
                acted.append(p)
                if not dry_run:
                    shutil.rmtree(p)
                dirs.remove(d)
        crc_candidates: "list[str]" = []
        for f in files:
            p = os.path.join(root, f)
            if f.startswith(_DEL_NEW_PREFIX) and f.endswith(_DEL_NEW_SUFFIX):
                acted.append(p)
                if not dry_run:
                    os.remove(p)
            elif f.startswith(".") and f.endswith(".crc"):
                crc_candidates.append(f)
        # .crc orphan check AFTER this directory's .delnew removals: a
        # sidecar of a .delnew removed above must go in the SAME pass,
        # not survive to a second vacuum run
        for f in crc_candidates:
            base = f[1:-4]
            orphan = not os.path.exists(os.path.join(root, base))
            if dry_run and not orphan:
                # removals were only listed, not performed — a sidecar of
                # a would-be-removed .delnew still reports as removable
                orphan = base.startswith(_DEL_NEW_PREFIX) and base.endswith(
                    _DEL_NEW_SUFFIX
                )
            if orphan:
                p = os.path.join(root, f)
                acted.append(p)
                if not dry_run:
                    os.remove(p)
    return acted


def q_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM as a declared query: events land as a hive layout, all three
    removable artifact classes are planted (a ``_temporary`` staging dir,
    an orphan ``.crc`` sidecar, a stale ``.delnew`` replacement), and the
    layout is vacuumed and read back. The oracle is the plain select —
    VACUUM must be content-invisible; that the artifacts are actually
    removed (and interrupted swaps repaired, not deleted) is pinned in
    tests/test_delete.py."""
    import shutil

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        "user_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
    )
    out = tempfile.mkdtemp(prefix="vacuum_")
    try:
        lay = os.path.join(out, "lay")
        ev.repartition(4).write.partitionBy("event_type").parquet(lay)
        os.makedirs(os.path.join(lay, "_temporary", "0"))
        with open(os.path.join(lay, "_temporary", "0", "junk"), "w") as f:
            f.write("x")
        with open(os.path.join(lay, ".ghost.parquet.crc"), "w") as f:
            f.write("x")
        with open(
            os.path.join(lay, f".part-0{_DEL_NEW_SUFFIX}"), "w"
        ) as f:
            f.write("x")
        n = len(vacuum_layout(lay))
        if n < 3:
            raise AssertionError(f"vacuum removed {n} < 3 artifacts")
        back = (
            spark.read.parquet(lay)
            .select("event_id", "t_us", "user_id", "event_type", "value")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return back


ORACLE_VACUUM = """
SELECT event_id, epoch_us(ts) AS t_us, user_id, event_type,
       CAST(value AS DOUBLE) AS value
FROM events
"""


def q_compact_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-compaction round-trip as a declared query: events demuxed
    by event_type with a deliberately fragmented 16-task write, compacted
    to one file per partition, read back. The oracle is the plain table
    projection — the file-count-per-partition bound is asserted in
    tests/test_bucketed.py."""
    import shutil

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        "user_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
    )
    out = tempfile.mkdtemp(prefix="compact_part_")
    try:
        frag = os.path.join(out, "frag")
        ev.repartition(16).write.partitionBy("event_type").parquet(frag)
        compact_partitioned(spark, frag, os.path.join(out, "compact"),
                            ["event_type"])
        back = (
            spark.read.parquet(os.path.join(out, "compact"))
            .select("event_id", "t_us", "user_id", "event_type", "value")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return back


ORACLE_COMPACT_PARTITIONED = """
SELECT event_id, epoch_us(ts) AS t_us, user_id, event_type,
       CAST(value AS DOUBLE) AS value
FROM events
"""


def q_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag → tables → bag → tables, driver-gate edition (export.py's
    round trip proven against an INDEPENDENT DuckDB oracle, not just local
    tests): a deterministic 1%-slice of events (event_id % 100 == 0)
    becomes an SBAG (typed int64/float64 payloads), converts to a layout,
    exports back to an indexed MCAP part, re-converts, and the final typed
    table is compared to DuckDB's direct select over events. Exact value
    parity — int64/float64 round-trip bit-for-bit through both container
    grammars. Memoized per (session, sf_dir) like the other layout
    queries; the pipeline itself is the distributed converter/exporter,
    only the tiny slice staging is driver-side."""
    import struct

    from rosbag2parquet_spark.convert import convert_bag
    from rosbag2parquet_spark.export import export_mcap
    from rosbag2parquet_spark.sources.baglike import ConnectionInfo, write_bag

    tag = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(
        tempfile.gettempdir(), "rosbag2parquet_spark_exportrt"
    )
    out2 = os.path.join(root, tag)
    if not os.path.isdir(out2):
        os.makedirs(root, exist_ok=True)
        work = tempfile.mkdtemp(prefix=f"{tag}_", dir=root)
        rows = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_id") % 100 == 0)
            .select("event_id", F.unix_micros("ts").alias("ts_us"), "value")
            .orderBy("event_id")
            .collect()
        )
        deftext = "int64 event_id\nfloat64 value\n"
        conns = [ConnectionInfo(1, "/events", "demo/Event", "", deftext)]
        msgs = [
            (1, r.ts_us * 1_000, struct.pack("<qd", r.event_id, r.value))
            for r in rows
        ]
        bag = os.path.join(work, "slice.sbag")
        write_bag(bag, conns, msgs)
        convert_bag(spark, bag, os.path.join(work, "lay1"))
        info = export_mcap(
            spark, os.path.join(work, "lay1"), os.path.join(work, "exp"),
            parts=1,
            # the blobs came from an SBAG — declare what they are (ros1
            # struct packing), the caller contract export.py documents
            encoding="ros1", schema_encoding="ros1msg",
        )
        convert_bag(spark, info.paths[0], os.path.join(work, "lay2"))
        # lost race -> drop; real failure -> re-raise (the shared rule)
        publish_scratch(os.path.join(work, "lay2"), out2)
    return (
        spark.read.parquet(os.path.join(out2, "demo_Event"))
        .select("event_id", "value")
    )


ORACLE_EXPORT_ROUNDTRIP = """
SELECT event_id, CAST(value AS DOUBLE) AS value
FROM events WHERE event_id % 100 = 0
"""


def q_protobuf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protobuf MCAP → typed tables, driver-gate edition: a deterministic
    1%-slice of events (event_id % 100 == 50) is wire-encoded driver-side
    as ``demo.PbEvent`` messages (int64 + nested sint64/uint32 + double +
    string — varint, zigzag, and submessage flatten all on the hot path),
    written as an indexed protobuf MCAP whose Schema record carries the
    hand-built FileDescriptorSet, converted by the engine's protobuf
    decode tier (sources/protobuf.py), and the flattened typed table is
    compared to DuckDB's direct select over events. The reference only
    ever decodes ros1 (rosbag2parquet.cpp:1); this proves the third
    message grammar end-to-end in the correctness gate. Memoized per
    (session, sf_dir) like export-roundtrip."""
    from rosbag2parquet_spark.convert import convert_bag
    from rosbag2parquet_spark.sources.baglike import ConnectionInfo
    from rosbag2parquet_spark.sources.mcap import write_mcap
    from rosbag2parquet_spark.sources.protobuf import (
        TYPE_DOUBLE,
        TYPE_INT64,
        TYPE_MESSAGE,
        TYPE_SINT64,
        TYPE_STRING,
        TYPE_UINT32,
        build_fds,
        enc_double_field,
        enc_int_field,
        enc_len_field,
        enc_str,
        enc_zigzag_field,
        msgdef_from_fds,
    )

    tag = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(tempfile.gettempdir(), "rosbag2parquet_spark_pbrt")
    out = os.path.join(root, tag)
    if not os.path.isdir(out):
        os.makedirs(root, exist_ok=True)
        work = tempfile.mkdtemp(prefix=f"{tag}_", dir=root)
        rows = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_id") % 100 == 50)
            .select(
                "event_id",
                F.unix_micros("ts").alias("ts_us"),
                "user_id",
                "value",
                "event_type",
            )
            .orderBy("event_id")
            .collect()
        )
        fds = build_fds(
            "demo",
            {
                "PbEvent": [
                    ("event_id", 1, TYPE_INT64),
                    ("meta", 2, TYPE_MESSAGE, False, ".demo.Meta"),
                    ("value", 3, TYPE_DOUBLE),
                    ("event_type", 4, TYPE_STRING),
                ],
                "Meta": [
                    ("neg_user", 1, TYPE_SINT64),
                    ("seq", 2, TYPE_UINT32),
                ],
            },
        )
        conns = [
            ConnectionInfo(1, "/events", "demo.PbEvent", "", msgdef_from_fds(fds))
        ]
        msgs = [
            (
                1,
                r.ts_us * 1_000,
                enc_int_field(1, r.event_id)
                + enc_len_field(
                    2,
                    enc_zigzag_field(1, -r.user_id)
                    + enc_int_field(2, r.user_id),
                )
                + enc_double_field(3, r.value)
                + enc_str(4, r.event_type),
            )
            for r in rows
        ]
        bag = os.path.join(work, "slice.mcap")
        write_mcap(bag, conns, msgs)
        convert_bag(spark, bag, os.path.join(work, "lay"))
        # lost race -> drop; real failure -> re-raise (the shared rule)
        publish_scratch(os.path.join(work, "lay"), out)
    return spark.read.parquet(os.path.join(out, "demo_PbEvent")).select(
        "event_id",
        F.col("meta_neg_user"),
        F.col("meta_seq"),
        "value",
        "event_type",
    )


ORACLE_PROTOBUF_ROUNDTRIP = """
SELECT event_id,
       CAST(-user_id AS BIGINT) AS meta_neg_user,
       CAST(user_id AS INTEGER) AS meta_seq,
       CAST(value AS DOUBLE) AS value,
       event_type
FROM events WHERE event_id % 100 = 50
"""


def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON MCAP → typed tables, driver-gate edition: a deterministic
    1%-slice of events (event_id % 100 == 25) is serialized driver-side as
    UTF-8 JSON payloads (nested object + integer/number/string/boolean on
    the hot path), written as an indexed MCAP whose Schema record carries
    a ``jsonschema`` document, converted by the JSON tier
    (sources/jsonschema.py), and the flattened typed table is compared to DuckDB's
    direct select over events. Proves the FOURTH message grammar
    (ros1/cdr, protobuf, json) end-to-end in the correctness gate.
    Memoized per (session, sf_dir) like the other converter gates."""
    import json as _json

    from rosbag2parquet_spark.convert import convert_bag
    from rosbag2parquet_spark.sources.baglike import ConnectionInfo
    from rosbag2parquet_spark.sources.jsonschema import JSON_DEF_PREFIX
    from rosbag2parquet_spark.sources.mcap import write_mcap

    tag = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(tempfile.gettempdir(), "rosbag2parquet_spark_jsrt")
    out = os.path.join(root, tag)
    if not os.path.isdir(out):
        os.makedirs(root, exist_ok=True)
        work = tempfile.mkdtemp(prefix=f"{tag}_", dir=root)
        rows = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_id") % 100 == 25)
            .select(
                "event_id",
                F.unix_micros("ts").alias("ts_us"),
                "user_id",
                "value",
                "event_type",
            )
            .orderBy("event_id")
            .collect()
        )
        schema = _json.dumps({
            "type": "object",
            "properties": {
                "event_id": {"type": "integer"},
                "meta": {
                    "type": "object",
                    "properties": {
                        "neg_user": {"type": "integer"},
                        "is_click": {"type": "boolean"},
                    },
                },
                "value": {"type": "number"},
                "event_type": {"type": "string"},
            },
        })
        conns = [
            ConnectionInfo(1, "/events", "demo.JsEvent", "",
                           JSON_DEF_PREFIX + schema)
        ]
        msgs = [
            (
                1,
                r.ts_us * 1_000,
                _json.dumps({
                    "event_id": r.event_id,
                    "meta": {
                        "neg_user": -r.user_id,
                        "is_click": r.event_type == "click",
                    },
                    "value": r.value,
                    "event_type": r.event_type,
                }).encode(),
            )
            for r in rows
        ]
        bag = os.path.join(work, "slice.mcap")
        write_mcap(bag, conns, msgs)
        convert_bag(spark, bag, os.path.join(work, "lay"))
        # lost race -> drop; real failure -> re-raise (the shared rule)
        publish_scratch(os.path.join(work, "lay"), out)
    return spark.read.parquet(os.path.join(out, "demo_JsEvent")).select(
        "event_id",
        F.col("meta_neg_user"),
        F.col("meta_is_click"),
        "value",
        "event_type",
    )


ORACLE_JSON_ROUNDTRIP = """
SELECT event_id,
       CAST(-user_id AS BIGINT) AS meta_neg_user,
       event_type = 'click' AS meta_is_click,
       CAST(value AS DOUBLE) AS value,
       event_type
FROM events WHERE event_id % 100 = 25
"""


def q_convert_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental GROWN-BAG ingest proven in the driver gate: a
    deterministic 1%-slice of events (event_id % 100 == 75) is CDR-encoded
    into a self-describing .db3, the FIRST HALF recorded and converted,
    then the recorder 'keeps running' (the second half INSERTs into the
    same sqlite file — true growth) and ``resume_convert_bag`` converts
    only the delta via the ``_ingest_state.json`` cursor (WHERE id >=
    cursor on the pk b-tree — O(new rows), the live-recording shape the
    whole-file-only reference lacks, rosbag2parquet.cpp). The final typed
    table — first half converted, second half resumed, seqno continuous —
    must value-match DuckDB's direct select over ALL slice rows. Memoized
    per (session, sf_dir)."""
    import sqlite3
    import struct

    from rosbag2parquet_spark.convert import convert_bag, resume_convert_bag
    from rosbag2parquet_spark.sources.baglike import ConnectionInfo
    from rosbag2parquet_spark.sources.rosbag2 import write_db3

    tag = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(tempfile.gettempdir(), "rosbag2parquet_spark_resume")
    out = os.path.join(root, tag)
    if not os.path.isdir(out):
        os.makedirs(root, exist_ok=True)
        work = tempfile.mkdtemp(prefix=f"{tag}_", dir=root)
        rows = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_id") % 100 == 75)
            .select(
                "event_id",
                F.unix_micros("ts").alias("ts_us"),
                "user_id",
                "value",
                "event_type",
            )
            .orderBy("event_id")
            .collect()
        )

        def cdr(r) -> bytes:
            raw = r.event_type.encode() + b"\x00"
            return (
                b"\x00\x01\x00\x00"
                + struct.pack("<qdi", r.event_id, r.value, r.user_id)
                + struct.pack("<I", len(raw))
                + raw
            )

        deftext = (
            "int64 event_id\nfloat64 value\nint32 user_id\n"
            "string event_type\n"
        )
        conns = [ConnectionInfo(1, "/events", "demo/RsEvent", "", deftext)]
        msgs = [(1, r.ts_us * 1_000, cdr(r)) for r in rows]
        half = len(msgs) // 2
        bag = os.path.join(work, "live.db3")
        write_db3(bag, conns, msgs[:half])
        lay = os.path.join(work, "lay")
        convert_bag(spark, bag, lay)
        con = sqlite3.connect(bag)  # the recorder keeps running
        try:
            con.executemany(
                "INSERT INTO messages(topic_id, timestamp, data)"
                " VALUES (?,?,?)",
                msgs[half:],
            )
            con.commit()
        finally:
            con.close()
        resume_convert_bag(spark, bag, lay)
        # lost race -> drop; real failure -> re-raise (the shared rule)
        publish_scratch(lay, out)
    return spark.read.parquet(os.path.join(out, "demo_RsEvent")).select(
        "event_id", "value", "user_id", "event_type"
    )


ORACLE_CONVERT_RESUME = """
SELECT event_id,
       CAST(value AS DOUBLE) AS value,
       CAST(user_id AS INTEGER) AS user_id,
       event_type
FROM events WHERE event_id % 100 = 75
"""


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across a layout's lifetime — the contract a 100 TB
    landing directory lives by (a recorder/producer upgrade adds a column;
    years of old part files must stay readable without rewrite): part
    files written under the OLD schema (no ``event_type``) and the NEW
    schema land in one directory; a ``mergeSchema`` read unifies them,
    old rows surfacing NULL for the added column — Parquet's add-nullable-
    column evolution rule, exercised end-to-end rather than assumed.

    Scale note: ``mergeSchema`` pays one footer read PER FILE at planning
    (it must union all schemas); steady-state readers should pin the
    evolved schema explicitly (``spark.read.schema(...)``) and pay it
    only when the schema actually changes — both paths produce identical
    rows, which is what this gate proves. The oracle is the two-epoch
    UNION with NULL for the pre-evolution half."""
    import shutil

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        "user_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
    )
    out = tempfile.mkdtemp(prefix="schema_evo_")
    try:
        lay = os.path.join(out, "lay")
        # epoch 1: the producer didn't record event_type yet
        ev.filter(F.col("event_id") % 2 == 0).drop("event_type").write.parquet(
            lay
        )
        # epoch 2: upgraded producer appends the wider schema
        ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(lay)
        merged = spark.read.option("mergeSchema", "true").parquet(lay)
        # the explicit-schema steady-state read must agree row-for-row:
        # multiset equality as ONE weighted-union job (sum of +1/-1 per
        # value-group is 0 for every group ⟺ both exceptAll counts are 0)
        # — the r14 fusion of the former two exceptAll().count() jobs,
        # which scanned the layout four times to assert the same property
        pinned = spark.read.schema(merged.schema).parquet(lay)
        disagree = (
            merged.withColumn("__w", F.lit(1))
            .unionByName(pinned.withColumn("__w", F.lit(-1)))
            .groupBy(*merged.columns)
            .agg(F.sum("__w").alias("__d"))
            .filter(F.col("__d") != 0)
            .limit(1)
            .count()
        )
        if disagree:
            raise AssertionError(
                "mergeSchema and pinned-schema reads disagree"
            )
        back = merged.select(
            "event_id", "t_us", "user_id", "event_type", "value"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return back


ORACLE_SCHEMA_EVOLUTION = """
SELECT event_id, epoch_us(ts) AS t_us, user_id,
       CAST(NULL AS VARCHAR) AS event_type, CAST(value AS DOUBLE) AS value
FROM events WHERE event_id % 2 = 0
UNION ALL
SELECT event_id, epoch_us(ts) AS t_us, user_id,
       event_type, CAST(value AS DOUBLE) AS value
FROM events WHERE event_id % 2 = 1
"""


QUERIES = {
    "demux": q_demux,
    "schema-evolution": q_schema_evolution,
    "sink": q_sink,
    "provenance-read": q_provenance_read,
    "export-roundtrip": q_export_roundtrip,
    "protobuf-roundtrip": q_protobuf_roundtrip,
    "convert-resume": q_convert_resume,
    "json-roundtrip": q_json_roundtrip,
    "delete-rows": q_delete_rows,
    "vacuum": q_vacuum,
    "bucket-join": q_bucket_join,
    "cluster-write": q_cluster_write,
    "zorder-write": q_zorder_write,
    "compact-files": q_compact_files,
    "compact-partitioned": q_compact_partitioned,
}
ORACLES = {
    "demux": ORACLE_DEMUX,
    "schema-evolution": ORACLE_SCHEMA_EVOLUTION,
    "sink": ORACLE_SINK,
    "provenance-read": ORACLE_PROVENANCE_READ,
    "export-roundtrip": ORACLE_EXPORT_ROUNDTRIP,
    "protobuf-roundtrip": ORACLE_PROTOBUF_ROUNDTRIP,
    "convert-resume": ORACLE_CONVERT_RESUME,
    "json-roundtrip": ORACLE_JSON_ROUNDTRIP,
    "delete-rows": ORACLE_DELETE_ROWS,
    "vacuum": ORACLE_VACUUM,
    "bucket-join": ORACLE_BUCKET_JOIN,
    "cluster-write": ORACLE_CLUSTER_WRITE,
    "zorder-write": ORACLE_ZORDER_WRITE,
    "compact-files": ORACLE_COMPACT_FILES,
    "compact-partitioned": ORACLE_COMPACT_PARTITIONED,
}
