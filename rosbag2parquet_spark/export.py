"""Parquet layout → bag export: the reverse direction of the converter,
closing the round trip (bag → tables → bag). The reference is one-way
(rosbag2parquet.cpp converts bags INTO parquet); re-materializing a bag
from the tables is what lets a user hand a subset/repartitioned/filtered
layout back to bag-native tooling (foxglove, ros2 bag play).

Spark-first shape: the blob union + seqno-range repartition is a normal
DataFrame plan (each per-type table contributes (seqno, connection_id,
data); Messages contributes the timestamps), and each output part file is
written by ITS OWN task via ``mapInPandas`` — the same executor-parallel,
one-file-per-partition contract as Spark's parquet sink, so export
bandwidth scales with the cluster, not the driver. Each part is a fully
self-describing, indexed, spec-conformant bag (own header + connection
dims, chunked with index records), so parts convert back independently or
as a fleet. Two target grammars share the machinery: MCAP (attachments
re-attach to part 0) and rosbag 2.0.

Connections are the driver-side dim (same posture as conversion: the dim
is small by construction). Message payloads are carried VERBATIM from the
layout's ``data`` blobs — the caller declares what they are via
``encoding``/``schema_encoding`` (the layout does not record the source
grammar; defaults are the modern cdr/ros2msg pair for MCAP, ros1 for
rosbag 2.0 by construction).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rosbag2parquet_spark.layout_write import META_TABLES
from rosbag2parquet_spark.sources.catalog import read_parquet


#: default target bytes of payload per exported part file
_TARGET_PART_BYTES = 256 << 20


@dataclass
class ExportInfo:
    paths: list[str]
    count: int
    parts: int
    #: per-part stats in path order: {path, n, t_min, t_max, conn_counts}
    files: "list[dict]" = None


def _type_tables(layout_dir: str) -> list[str]:
    out = []
    for name in sorted(os.listdir(layout_dir)):
        p = os.path.join(layout_dir, name)
        if os.path.isdir(p) and name not in META_TABLES:
            out.append(p)
    return out


def _refuse_protobuf_defs(conns: list, layout_dir: str, grammar: str) -> None:
    """rosbag 2.0 / .db3 schema slots hold ros msg-def TEXT; a protobuf
    FileDescriptorSet (binary, carried behind the msg_def marker) has no
    representation there — refuse with guidance instead of writing a
    base64 blob a ros reader would choke on. MCAP export handles these
    per-schema (write_mcap emits encoding='protobuf')."""
    from rosbag2parquet_spark.sources.protobuf import PROTOBUF_DEF_PREFIX

    from rosbag2parquet_spark.sources.jsonschema import JSON_DEF_PREFIX

    bad = sorted(
        {
            c.datatype
            for c in conns
            if c.msg_def.startswith((PROTOBUF_DEF_PREFIX, JSON_DEF_PREFIX))
        }
    )
    if bad:
        raise ValueError(
            f"{layout_dir}: datatypes {bad} carry protobuf/jsonschema "
            f"schemas — {grammar} stores ros msg-def text and cannot "
            "represent them; export to MCAP instead"
        )


def _layout_connections(spark: SparkSession, layout_dir: str) -> list:
    from rosbag2parquet_spark.sources.baglike import ConnectionInfo

    # guard before touching any table so an un-exportable layout fails
    # with the actionable message, not a parquet read error
    if not _type_tables(layout_dir):
        raise ValueError(f"{layout_dir}: no per-type tables to export")

    rows = (
        read_parquet(spark, os.path.join(layout_dir, "Connections"))
        .orderBy("connection_id")
        .collect()
    )
    return [
        ConnectionInfo(
            int(r.connection_id),
            r.topic,
            r.datatype,
            r.md5sum or "",
            r.msg_def or "",
            r.callerid,
            r.latching,
        )
        for r in rows
    ]


def _export_parts(
    spark: SparkSession,
    layout_dir: str,
    out_dir: str,
    parts: "int | None",
    ext: str,
    write_part_file: "Callable[[str, list, int], None]",
    topics: "list[str] | None" = None,
    start_ns: "int | None" = None,
    end_ns: "int | None" = None,
) -> ExportInfo:
    """Shared export pipeline: union blobs, attach times, range-split on
    seqno, write one ``part-NNNNN.{ext}`` per task. ``write_part_file``
    gets (path, messages, partition_id) and closes over the dims/options.

    ``parts`` defaults to ceil(total payload bytes / 256 MiB) (≥1), sized
    from the Messages table's ``size`` column — one cheap column agg, no
    blob scan. Parts split on seqno ranges, so concatenating parts in
    file order replays the original seqno order; converting the parts
    back as a fleet reproduces the layout (round-trip test-pinned)."""
    type_tables = _type_tables(layout_dir)
    if not type_tables:
        raise ValueError(f"{layout_dir}: no per-type tables to export")

    msgs = read_parquet(spark, os.path.join(layout_dir, "Messages"))

    # subset filters — the converter's --topics/--start-ns/--end-ns
    # mirrored on the way OUT. Topic resolves to connection ids driver-side
    # (the dim is tiny) so BOTH the Messages scan and the per-type blob
    # scans get a plain `connection_id IN (...)` predicate, and the time
    # bounds are integer comparisons on Messages columns — all reach the
    # parquet scans as PushedFilters, so a narrow export reads only
    # matching row groups.
    wanted: "list[int] | None" = None
    if topics is not None:
        wanted = sorted(
            int(r.connection_id)
            for r in read_parquet(spark, os.path.join(layout_dir, "Connections"))
            .filter(F.col("topic").isin(list(topics)))
            .collect()
        )
        if not wanted:
            raise ValueError(f"{layout_dir}: no connection matches {topics}")
        msgs = msgs.filter(F.col("connection_id").isin(wanted))
    t_ns = F.col("time_sec").cast("long") * 1_000_000_000 + F.col("time_nsec")
    if start_ns is not None:
        msgs = msgs.filter(t_ns >= start_ns)
    if end_ns is not None:
        msgs = msgs.filter(t_ns < end_ns)

    if parts is None:
        # sized from the FILTERED selection (a narrow subset export should
        # not inherit the full layout's part count): one cheap column agg
        # over Messages.size, no blob scan
        total = msgs.agg(F.sum("size").alias("b")).collect()[0].b or 0
        parts = max(1, -(-int(total) // _TARGET_PART_BYTES))

    blobs = None
    for p in type_tables:
        t = read_parquet(spark, p).select("seqno", "connection_id", "data")
        if wanted is not None:
            t = t.filter(F.col("connection_id").isin(wanted))
        blobs = t if blobs is None else blobs.unionByName(t)

    joined = blobs.join(
        msgs.select("seqno", "time_sec", "time_nsec"), "seqno"
    ).select("seqno", "connection_id", "time_sec", "time_nsec", "data")

    if os.path.isdir(out_dir) and os.listdir(out_dir):
        raise ValueError(
            f"{out_dir}: not empty — refusing to mix with a previous "
            "export (stale part files would double-count on reconvert)"
        )
    os.makedirs(out_dir, exist_ok=True)

    def write_part(batches: Iterator) -> Iterator:
        import json

        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        messages: list[tuple[int, int, bytes]] = []
        for pdf in batches:
            for cid, ts, tn, d in zip(
                pdf["connection_id"], pdf["time_sec"], pdf["time_nsec"],
                pdf["data"],
            ):
                messages.append(
                    (int(cid), int(ts) * 1_000_000_000 + int(tn), bytes(d))
                )
        if not messages:
            return
        path = os.path.join(out_dir, f"part-{pid:05d}.{ext}")
        write_part_file(path, messages, pid)
        counts: dict[int, int] = {}
        for cid, _t, _p in messages:
            counts[cid] = counts.get(cid, 0) + 1
        yield pd.DataFrame(
            {
                "path": [path],
                "n": [len(messages)],
                "t_min": [min(t for _c, t, _p in messages)],
                "t_max": [max(t for _c, t, _p in messages)],
                "conn_counts": [json.dumps(counts)],
            }
        )

    rows = (
        joined.repartitionByRange(parts, "seqno")
        .sortWithinPartitions("seqno")
        .mapInPandas(
            write_part,
            "path string, n long, t_min long, t_max long, conn_counts string",
        )
        .collect()
    )
    import json as _json

    files = sorted(
        (
            {
                "path": r.path,
                "n": int(r.n),
                "t_min": int(r.t_min),
                "t_max": int(r.t_max),
                "conn_counts": {
                    int(k): v for k, v in _json.loads(r.conn_counts).items()
                },
            }
            for r in rows
        ),
        key=lambda d: d["path"],
    )
    return ExportInfo(
        paths=[d["path"] for d in files],
        count=int(sum(d["n"] for d in files)),
        parts=len(files),
        files=files,
    )


def export_mcap(
    spark: SparkSession,
    layout_dir: str,
    out_dir: str,
    *,
    parts: "int | None" = None,
    encoding: str = "cdr",
    schema_encoding: str = "ros2msg",
    chunk_messages: int = 1000,
    compression: str = "",
    crcs: bool = False,
    topics: "list[str] | None" = None,
    start_ns: "int | None" = None,
    end_ns: "int | None" = None,
    as_recording: bool = False,
) -> ExportInfo:
    """Export a converted layout back to one-or-more indexed MCAP part
    files (summary ChunkIndex + Footer: the reader's O(index) planning
    path works on every part). Attachments re-attach to part 0.
    ``as_recording=True`` also writes metadata.yaml (storage_identifier:
    mcap) so the outdir is a recorded ROS 2 directory — the Iron+ default
    storage shape our fleet reader already consumes."""
    from rosbag2parquet_spark.sources.mcap import write_mcap

    conns = _layout_connections(spark, layout_dir)
    too_big = [c.conn_id for c in conns if c.conn_id > 0xFFFF]
    if too_big:
        raise ValueError(
            f"{layout_dir}: connection ids {too_big[:5]} exceed MCAP's "
            "uint16 channel-id space — export per-subset (--topics) or to "
            "rosbag/db3 (32-bit connection ids)"
        )

    att_rows: list[tuple] = []
    att_path = os.path.join(layout_dir, "Attachments")
    if os.path.isdir(att_path):
        att_rows = [
            (int(r.log_time), int(r.create_time), r.name, r.media_type,
             bytes(r.data))
            for r in read_parquet(spark, att_path).orderBy("name").collect()
        ]

    # Metadata records reconstruct from the flattened table: one record
    # per (bag_index, name), NULL-key rows = the record had an empty map.
    # Tiny by nature (named key-value maps) — the task closure carries them
    md_recs: list[tuple] = []
    md_path = os.path.join(layout_dir, "Metadata")
    if os.path.isdir(md_path):
        grouped: dict = {}
        for r in (
            read_parquet(spark, md_path)
            .orderBy("bag_index", "name", "key")
            .collect()
        ):
            kv = grouped.setdefault((int(r.bag_index), r.name), {})
            if r.key is not None:
                kv[r.key] = r.value
        md_recs = [(name, kv) for (_bi, name), kv in sorted(grouped.items())]

    # attachments can be large side-cars (maps, calibration blobs) and only
    # part 0 embeds them — ship via a Spark broadcast (once per executor)
    # instead of the task closure (once per task)
    att_bc = spark.sparkContext.broadcast(att_rows)

    def write_part_file(path: str, messages: list, pid: int) -> None:
        write_mcap(
            path,
            conns,
            messages,
            encoding=encoding,
            schema_encoding=schema_encoding,
            chunked=True,
            compression=compression,
            chunk_messages=chunk_messages,
            indexed=True,
            crcs=crcs,
            attachments=att_bc.value if pid == 0 else None,
            metadata=md_recs if pid == 0 else None,
        )

    info = _export_parts(
        spark, layout_dir, out_dir, parts, "mcap", write_part_file,
        topics=topics, start_ns=start_ns, end_ns=end_ns,
    )
    if as_recording:
        _write_recording_metadata(out_dir, info, conns, encoding, "mcap")
    return info


def export_rosbag(
    spark: SparkSession,
    layout_dir: str,
    out_dir: str,
    *,
    parts: "int | None" = None,
    compression: str = "none",
    messages_per_chunk: int = 100,
    topics: "list[str] | None" = None,
    start_ns: "int | None" = None,
    end_ns: "int | None" = None,
) -> ExportInfo:
    """Export a converted layout back to rosbag 2.0 part files (chunked,
    with trailing connection + ChunkInfo index records — the same
    time/topic chunk-pruning the reader plans from). Payloads are carried
    verbatim (rosbag payloads are ros1-serialized by construction).
    rosbag has no attachment/metadata analog, so any Attachments or
    Metadata table is left in the layout (export to MCAP to carry
    side-cars along)."""
    from rosbag2parquet_spark.sources.rosbag import write_rosbag

    conns = _layout_connections(spark, layout_dir)
    _refuse_protobuf_defs(conns, layout_dir, "rosbag 2.0")

    def write_part_file(path: str, messages: list, pid: int) -> None:
        write_rosbag(
            path,
            conns,
            messages,
            compression=compression,
            messages_per_chunk=messages_per_chunk,
        )

    return _export_parts(
        spark, layout_dir, out_dir, parts, "bag", write_part_file,
        topics=topics, start_ns=start_ns, end_ns=end_ns,
    )


def export_db3(
    spark: SparkSession,
    layout_dir: str,
    out_dir: str,
    *,
    parts: "int | None" = None,
    serialization_format: str = "cdr",
    schema_encoding: str = "ros2msg",
    topics: "list[str] | None" = None,
    start_ns: "int | None" = None,
    end_ns: "int | None" = None,
    as_recording: bool = False,
) -> ExportInfo:
    """Export a converted layout back to rosbag2 sqlite (.db3) part files —
    each part self-describing via the Iron+/v4 embedded
    message_definitions table, so it converts back with no caller msgdefs.
    Completes export symmetry for all three real container grammars."""
    from rosbag2parquet_spark.sources.rosbag2 import write_db3

    conns = _layout_connections(spark, layout_dir)
    _refuse_protobuf_defs(conns, layout_dir, "rosbag2 .db3")
    defs_per_type: dict[str, set] = {}
    for c in conns:
        defs_per_type.setdefault(c.datatype, set()).add(c.msg_def or "")
    multi = sorted(t for t, ds in defs_per_type.items() if len(ds) > 1)
    if multi:
        raise ValueError(
            f"{layout_dir}: datatypes {multi} carry multiple definition "
            "versions (evolve-append layout) — rosbag2's "
            "message_definitions table is keyed per TYPE, so a .db3 "
            "cannot represent them; export to MCAP or rosbag 2.0, whose "
            "schemas are per-connection"
        )

    def write_part_file(path: str, messages: list, pid: int) -> None:
        write_db3(
            path,
            conns,
            messages,
            serialization_format=serialization_format,
            schema_encoding=schema_encoding,
        )

    info = _export_parts(
        spark, layout_dir, out_dir, parts, "db3", write_part_file,
        topics=topics, start_ns=start_ns, end_ns=end_ns,
    )
    if as_recording:
        _write_recording_metadata(
            out_dir, info, conns, serialization_format, "sqlite3"
        )
    return info


def _write_recording_metadata(
    out_dir: str,
    info: ExportInfo,
    conns: list,
    serialization_format: str,
    storage_identifier: str,
) -> None:
    """metadata.yaml for the exported shards — the manifest that makes the
    directory a RECORDED bag (`ros2 bag play` and this engine's own
    directory reader both resolve shards via relative_file_paths in
    recorded order). Stats come from each part task's own tally (the
    messages were in its hands at write time — no shard re-read), so they
    are correct under any subset filters the export applied."""
    import yaml

    by_topic: dict[int, int] = {}
    for d in info.files:
        for cid, cnt in d["conn_counts"].items():
            by_topic[cid] = by_topic.get(cid, 0) + cnt
    total = info.count
    t_min = min((d["t_min"] for d in info.files), default=0)
    t_max = max((d["t_max"] for d in info.files), default=0)
    files = [
        {
            "path": os.path.basename(d["path"]),
            "starting_time": {"nanoseconds_since_epoch": d["t_min"]},
            "duration": {"nanoseconds": d["t_max"] - d["t_min"]},
            "message_count": d["n"],
        }
        for d in info.files
    ]
    doc = {
        "rosbag2_bagfile_information": {
            "version": 5,
            "storage_identifier": storage_identifier,
            "relative_file_paths": [os.path.basename(p) for p in info.paths],
            "files": files,
            "duration": {
                "nanoseconds": int((t_max - t_min) if total else 0)
            },
            "starting_time": {
                "nanoseconds_since_epoch": int(t_min if total else 0)
            },
            "message_count": int(total),
            "topics_with_message_count": [
                {
                    "topic_metadata": {
                        "name": c.topic,
                        "type": c.datatype,
                        "serialization_format": serialization_format,
                        "offered_qos_profiles": "",
                    },
                    "message_count": int(by_topic.get(c.conn_id, 0)),
                }
                for c in conns
            ],
            "compression_format": "",
            "compression_mode": "",
        }
    }
    with open(os.path.join(out_dir, "metadata.yaml"), "w") as f:
        yaml.safe_dump(doc, f, sort_keys=False)
