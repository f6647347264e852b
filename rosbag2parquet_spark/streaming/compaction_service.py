"""Streaming ingest + compaction service loop: the maintenance half of a
landing pipeline. ``partitionBy`` streaming writers emit one file per task
per partition per TRIGGER, so a long-running ingest fragments every
partition into thousands of tiny files — the classic small-file problem
OPTIMIZE exists for. This service runs the ingest and the OPTIMIZE in the
same ``foreachBatch`` loop: append the micro-batch, then rewrite any
partition whose file count crossed the threshold.

Shape notes (vs the batch ``sinks.compact_partitioned``): the batch
operator compacts the WHOLE table in one job/one shuffle because it may
face 10^5 cold partitions. The service loop instead rewrites only the
partitions the ingest is actively fragmenting — per trigger that is the
handful of recent arrival partitions, bounded by the arrival pattern and
the trigger cadence, NOT by table size, so a per-partition rewrite here
is the right (and cheap) shape. Each rewrite is one column-pruned read +
one coalesced write of one partition directory.

Each rewrite stages the partition's new files under the table's
``_staging-<uuid>/`` and swaps them in through
`layout_write.publish_table`, the one commit point of every in-place
layout write: the old partition is renamed aside, the new one renamed in,
then the old one dropped. A crash at any point leaves a state
`layout_write.repair` settles on the next service pass (or
`sinks.vacuum_layout`): a swap stopped before the rename-in is rolled
back, one stopped after it keeps the new files, so a partition is never
lost. A reader racing the swap can still miss the partition between the
two renames; a table format (Delta/Iceberg) closes that window with its
commit log. The service is the single writer by construction
(foreachBatch triggers run serially).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

from rosbag2parquet_spark import layout_write as lw


def compact_fragmented_partitions(
    spark,
    out_dir: str,
    *,
    max_files_per_partition: int = 8,
    target_file_bytes: "int | None" = None,
) -> "list[str]":
    """Rewrite every hive partition directory under ``out_dir`` holding
    more than ``max_files_per_partition`` parquet files down to
    ceil(bytes / target) files (1 when no target). Returns the rewritten
    partition-relative paths. Pure directory listing finds the work — no
    data is read for partitions under the threshold."""
    todo: list = []
    for root, dirs, files in os.walk(out_dir):
        lw.repair(root)
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if "=" not in os.path.basename(root):
            continue
        parquet = [f for f in files if f.endswith(".parquet")]
        if len(parquet) <= max_files_per_partition:
            continue
        nbytes = sum(os.path.getsize(os.path.join(root, f)) for f in parquet)
        k = 1
        if target_file_bytes:
            k = max(1, -(-nbytes // target_file_bytes))
        if len(parquet) <= k:
            # already at (or under) the byte-target's own file count — a
            # partition whose data NEEDS more than max_files files must
            # not be rewritten to the same k on every trigger; the no-op
            # threshold is max(max_files_per_partition, k)
            continue
        todo.append((root, k))
        dirs[:] = []  # the rewrite reads the whole dir
    if not todo:
        return []
    staging = lw.make_staging(out_dir)
    try:
        for i, (root, k) in enumerate(todo):
            staged = os.path.join(staging, str(i))
            spark.read.parquet(root).repartition(k).write.parquet(staged)
            files = [f for f in os.listdir(staged) if f.endswith(".parquet")]
            lw.publish_table(root, staged, files, overwrite=True)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return [os.path.relpath(root, out_dir) for root, _k in todo]


def ingest_with_compaction(
    events: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    partition_cols: "list[str]",
    *,
    max_files_per_partition: int = 8,
    target_file_bytes: "int | None" = None,
):
    """Start the service: append each micro-batch to the hive-partitioned
    layout, then compact partitions the append fragmented past the
    threshold. Returns the StreamingQuery (caller awaits/stops it).
    The checkpoint offset log gives at-least-once ingest (a micro-batch
    retried after a crash between the append and the offset commit lands
    twice — plain parquet has no transactional commit; a table format
    upgrades this to exactly-once); compaction is idempotent (re-running
    on an already-compact partition is a no-op by the threshold check,
    and interrupted swaps repair on the next pass)."""

    def _ingest(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        (
            batch_df.write.mode("append")
            .partitionBy(*partition_cols)
            .parquet(out_dir)
        )
        compact_fragmented_partitions(
            spark,
            out_dir,
            max_files_per_partition=max_files_per_partition,
            target_file_bytes=target_file_bytes,
        )

    return (
        events.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
