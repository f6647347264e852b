"""Streaming windowed aggregation over the event stream (north-star X5).

``readStream`` over the same parquet layout the batch engine reads; the
aggregation plan is IDENTICAL to the batch version (Catalyst incrementalizes
it) — that's the Spark-first payoff: one logical plan, two execution modes.

Watermarking: 10-minute allowed lateness; state for a window is dropped once
the watermark passes its end — bounded state at any scale. Sinks: the memory
sink for tests; production would use a parquet/kafka sink with checkpointing
(exactly-once via the offset log + idempotent file commits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _events_schema(ts_is_nanos: bool) -> T.StructType:
    ts_type = T.LongType() if ts_is_nanos else T.TimestampType()
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def stage_stream_file(sf_dir: str, filename: str, tag: str) -> str:
    """Stage one fixture parquet into a per-(tag, sf) scratch dir as a
    symlink and return the directory — the file-source needs a DIRECTORY
    (each arriving file is a micro-batch; in production this is the
    landing directory new log files drop into). Shared by every fixture
    stream (events/documents/orders/embeddings)."""
    import os
    import tempfile

    stage = os.path.join(
        tempfile.gettempdir(),
        f"rosbag2parquet_spark_{tag}",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, filename)
    target = os.path.join(sf_dir, filename)
    # lexists (not exists): a DANGLING link must be repaired, not
    # re-created into FileExistsError; and a link left by a DIFFERENT
    # sf_dir that shares this basename must be re-pointed, or every
    # stream would silently read the stale corpus
    if os.path.lexists(link):
        if os.path.islink(link) and os.readlink(link) == target:
            return stage
    # atomic repair: create at a unique temp name and rename over the
    # link — two processes staging same-basename sf_dirs concurrently
    # each install a complete link (last writer wins) instead of racing
    # remove/symlink into FileExistsError
    import uuid

    tmp = os.path.join(stage, f".{filename}.{uuid.uuid4().hex[:8]}.tmp")
    os.symlink(target, tmp)
    try:
        os.rename(tmp, link)  # atomically replaces an existing link
    except OSError:
        os.unlink(tmp)
        raise
    return stage


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a stream (file-source; each arriving parquet file is
    a micro-batch). The file source needs a directory, so the fixture file is
    staged (symlinked) into a scratch dir — in production this is the landing
    directory new log files drop into.

    The ``ts`` physical type is probed from the footer EXACTLY like the
    batch catalog (TIMESTAMP(NANOS) → long + rebuild, else TimestampType
    directly) so stream and batch read identical values whichever way the
    fixture was written."""
    import os

    from rosbag2parquet_spark.sources.catalog import nanos_columns

    stage = stage_stream_file(sf_dir, "events.parquet", "stream")

    ts_is_nanos = "ts" in nanos_columns(os.path.join(sf_dir, "events.parquet"))
    if ts_is_nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(_events_schema(ts_is_nanos))
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    if ts_is_nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def windowed_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Tumbling 1-hour counts per type with late-data watermark — the
    streaming twin of operators.windows.q_window_tumbling."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # decimal accumulation — identical expression to the batch twin
            # (q_window_tumbling), so stream==batch equality is structural,
            # not a lucky rounding coincidence
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized(
    events: DataFrame,
    gap: "str | None" = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming sessionization via the native session_window state merge.
    Emits the SAME columns as the batch twin (operators.windows.q_sessionize)
    so stream==batch equality is checkable row-for-row; the gap defaults to
    the BATCH constant (windows.SESSION_GAP_MIN — baked into the shared
    oracle) so the two cannot drift."""
    if gap is None:
        from rosbag2parquet_spark.operators.windows import SESSION_GAP_MIN

        gap = f"{SESSION_GAP_MIN} minutes"
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.unix_micros(F.max("ts")).alias("session_last_us"),
        )
        .select("user_id", "session_start_us", "session_last_us", "n_events")
    )


#: shuffle partitions of a fixture stream's STATEFUL operators: every
#: state partition costs a state-store init + snapshot + commit per
#: trigger, and every fixture stream's state is tiny (per-type counts ≈ 5
#: rows; the largest, digest/user keyed, a few thousand). At sf0.1 the 27
#: empty stores of a CPU-count default were ~60% of stream-resample's
#: micro-batch time (addBatch 1.8 s @32 partitions vs 0.8 s @8). Results
#: are partition-count invariant (state partitioning only shards the
#: store). At 100 TB size it to key cardinality × throughput instead.
STATE_PARTITIONS = 8


def run_to_memory(df: DataFrame, name: str, mode: str = "complete") -> None:
    """Drive a streaming query over the finite fixture to completion
    synchronously (memory sink; tests and smoke only), its stateful
    shuffle sized to `STATE_PARTITIONS`. The partition count is baked into
    the checkpoint at first start, so setting the conf around ``start()``
    and restoring it after is safe."""
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_all_to_memory(drains: "list[tuple[DataFrame, str, str]]") -> None:
    """Drive SEVERAL independent finite streams to completion
    CONCURRENTLY (guide §2.6 — actions are only sequential because the
    driver calls them sequentially): all queries start first, then each
    is awaited and stopped. A query pair that a registered op drains
    back-to-back (e.g. the live add log + the tombstone channel of
    `stream-ivfadc-delete`) pays ONE micro-batch floor of wall clock
    instead of one per stream; the scheduler back-fills the second
    query's tasks onto cores the first one's tail frees. Same
    state-partition sizing as `run_to_memory` (the conf is set around the
    starts and restored — it is captured into each query's cloned
    session at start())."""
    if not drains:
        return
    spark = drains[0][0].sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    queries = []
    try:
        for df, name, mode in drains:
            queries.append(
                df.writeStream.outputMode(mode)
                .format("memory")
                .queryName(name)
                .start()
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
