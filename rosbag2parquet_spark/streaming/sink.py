"""Streaming demux sink — the type-router (S3) as an incremental pipeline:
``readStream`` over the landing directory → per-type partitioned parquet via
``writeStream.partitionBy`` with a checkpoint (exactly-once file sink: the
offset log + file-commit manifest make replays idempotent).

This is the converter's demux running continuously instead of batch, but
not its layout: the batch converters write one table dir per type, while
this sink writes one table partitioned by ``datatype``, over which a
batch reader gets partition pruning immediately (reference's per-type
scan isolation, README.md:2-4, now with files arriving live)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from rosbag2parquet_spark.streaming.windowed import stream_events


def stream_demux(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str | None = None
):
    """Start the streaming demux; returns the StreamingQuery. Caller stops
    it (tests drain with processAllAvailable)."""
    events = stream_events(spark, sf_dir)
    pertype = events.select(
        F.col("event_id").alias("seqno"),  # stream order id (no global sort in a stream)
        F.col("ts").alias("time"),
        F.col("value").alias("size"),
        F.col("user_id").alias("connection_id"),
        F.encode("props", "utf-8").alias("data"),
        F.col("event_type").alias("datatype"),
    )
    return (
        pertype.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(out_dir, "_checkpoint"),
        )
        .partitionBy("datatype")
        .start()
    )
