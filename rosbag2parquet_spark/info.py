"""`rosbag info` analog — the reference's stats companion
(rosbag_example.cpp:14-77): per-topic aggregation (count, bytes, min/max
stamp, first-seen type), rolled up per type and globally, with derived
frequency / data-rate metrics (rosbag_example.cpp:28-34, 71-72).

One groupBy + one rollup over the bag scan — the reference's three
sequential hash-map passes collapse into two Spark aggregations (partial
aggregation map-side; the rollup shares the shuffle)."""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rosbag2parquet_spark.sources.container import (
    Container,
    connections_df,
    open_bag,
    read_messages,
    sidecar_rows,
)


def load_bag(
    spark: SparkSession,
    path: "str | Container",
    num_partitions: int = 8,
    msgdefs: "dict[str, str] | None" = None,
    start_ns: "int | None" = None,
    end_ns: "int | None" = None,
    on_error: str = "fail",
    start: "int | None" = None,
) -> tuple[DataFrame, DataFrame]:
    """(messages, connections) for any bag generation, detected from magic
    bytes: rosbag 2.0, MCAP, ROS 2 rosbag2 (.db3 sqlite3 storage —
    definitions from the embedded ``message_definitions`` table when
    present (Iron+), else from caller-supplied ``msgdefs``), or the SBAG
    test format. All yield the same (offset, time_ns, conn_id, data) scan
    schema through `container.read_messages`; ``start`` is its resume
    cursor in the container's own unit (refused for rosbag). The bag opens
    once (or ``path`` is an opened container), so both frames describe
    one snapshot."""
    bag = path if isinstance(path, Container) else open_bag(path, msgdefs, start)
    msgs = read_messages(
        spark, bag, num_partitions, start_ns=start_ns, end_ns=end_ns,
        on_error=on_error,
    )
    return msgs, connections_df(spark, bag.conn_rows)


def seqno_bucket_width(path: str) -> int:
    """Bucket width for ``assign_seqno`` over this bag's offsets: at most
    64 buckets over [0, max_offset] whatever the offset encoding (dense
    rowids, byte positions or sparse chunk-index offsets), so the
    driver-side prefix-sum map stays small."""
    return open_bag(path).max_offset // 64 + 1


def _with_rates(agg: DataFrame) -> DataFrame:
    """The info rows of a (datatype, topic) rollup: NULL keys read <all>,
    plus the derived frequency and data rate (rosbag_example.cpp:71-72).
    SQL text: one expression parse instead of a JVM call per column
    operator."""
    span_s = "((max_ns - min_ns) / 1e9)"
    return agg.selectExpr(
        "coalesce(datatype, '<all>') AS datatype",
        "coalesce(topic, '<all>') AS topic",
        "n_msgs",
        "total_bytes",
        f"CASE WHEN {span_s} > 0 THEN round(n_msgs / {span_s}, 3) END AS freq_hz",
        f"CASE WHEN {span_s} > 0 THEN round(total_bytes / {span_s}, 1) END"
        " AS bytes_per_s",
    )


def bag_info(spark: SparkSession, path: "str | Container") -> DataFrame:
    """Per-(datatype, topic) stats + per-type and global rollup rows
    (topic NULL → per-type subtotal; both NULL → grand total)."""
    msgs, conns = load_bag(spark, path)
    joined = msgs.join(F.broadcast(conns), msgs.conn_id == conns.connection_id)
    agg = (
        joined.rollup("datatype", "topic")
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.sum(F.length("data")).alias("total_bytes"),
            F.min("time_ns").alias("min_ns"),
            F.max("time_ns").alias("max_ns"),
        )
    )
    return _with_rates(agg)


def print_info(spark: SparkSession, path: str) -> None:
    """Human-oriented summary (the reference prints to stdout,
    rosbag_example.cpp:67-76), then the bag's side-car records."""
    bag = open_bag(path)
    rows = bag_info(spark, bag).orderBy("datatype", "topic").collect()
    print(f"bag: {path}")
    for r in rows:
        tag = "TOTAL" if r.datatype == "<all>" else f"{r.datatype} {r.topic}"
        freq = f" @ {r.freq_hz} Hz" if r.freq_hz is not None else ""
        print(f"  {tag}: {r.n_msgs} msgs, {r.total_bytes} bytes{freq}")
    attachments, metadata = sidecar_rows(bag, payloads=False)
    for name, media, nbytes in attachments:
        print(f"  attachment: {name} ({media}, {nbytes} bytes)")
    for name, kv in itertools.groupby(metadata, key=lambda r: r[0]):
        pairs = sorted((k, v) for _, k, v in kv if k is not None)
        print(f"  metadata: {name}: " + ", ".join(f"{k}={v}" for k, v in pairs))


def _nn(op, a, b):
    """``op(a, b)`` skipping NULLs, as SQL aggregates do."""
    return a if b is None else b if a is None else op(a, b)


def _stats_rollup(layout_dir: str):
    """The (datatype, topic) rollup of a layout's ``Stats`` rows joined to
    its ``Connections``, computed on the driver from the two small tables:
    one row per pair, per datatype (topic NULL) and the grand total (both
    NULL), with SQL's NULL-skipping sum/min/max. An empty join yields no
    rows, as Spark's rollup does."""
    import operator
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    names: dict = {}
    conns = pq.read_table(
        os.path.join(layout_dir, "Connections"),
        columns=["connection_id", "datatype", "topic"],
    )
    for cid, dt, topic in zip(*(c.to_pylist() for c in conns.columns)):
        names.setdefault(cid, []).append((dt, topic))
    stats = pq.read_table(
        os.path.join(layout_dir, "Stats"),
        columns=["connection_id", "n_messages", "total_bytes",
                 "min_time_ns", "max_time_ns"],
    )
    ops = (operator.add, operator.add, min, max)
    acc: dict = {}
    for cid, *vals in zip(*(c.to_pylist() for c in stats.columns)):
        for dt, topic in names.get(cid, ()):
            # the level keeps a NULL datatype apart from the subtotals
            for key in ((0, dt, topic), (1, dt, None), (2, None, None)):
                got = acc.get(key)
                acc[key] = vals if got is None else [
                    _nn(op, a, b) for op, a, b in zip(ops, got, vals)
                ]
    keys = sorted(acc, key=repr)
    return pa.table(
        [
            pa.array([k[1] for k in keys], pa.string()),
            pa.array([k[2] for k in keys], pa.string()),
            *(
                pa.array([acc[k][i] for k in keys], pa.int64())
                for i in range(4)
            ),
        ],
        names=["datatype", "topic", "n_msgs", "total_bytes", "min_ns", "max_ns"],
    )


def layout_info(spark: SparkSession, layout_dir: str) -> DataFrame:
    """`bag_info` over a CONVERTED layout instead of a bag: the same
    per-(datatype, topic) stats + rollup rows. Every converter persists
    the aggregates as a ``Stats`` table (reference TODO #2.1 — one row per
    batch x connection), so info is a rollup of a KILOBYTE-scale table,
    done on the driver (`_stats_rollup`) and handed to Spark as a local
    relation: answering it runs no Spark job, and at 100 TB `rosbag info`
    answers without touching Messages at all. A layout without ``Stats``
    comes from an older converter and is refused."""
    import os

    if not os.path.isdir(os.path.join(layout_dir, "Stats")):
        raise ValueError(
            f"{layout_dir}: no Stats table — a layout from an older "
            "converter; re-convert it"
        )
    return _with_rates(spark.createDataFrame(_stats_rollup(layout_dir)))


def print_layout_info(spark: SparkSession, layout_dir: str) -> None:
    import os

    df = layout_info(spark, layout_dir).orderBy("datatype", "topic")
    print(f"layout: {layout_dir}")
    for r in df.collect():
        tag = "TOTAL" if r.datatype == "<all>" else f"{r.datatype} {r.topic}"
        freq = f" @ {r.freq_hz} Hz" if r.freq_hz is not None else ""
        print(f"  {tag}: {r.n_msgs} msgs, {r.total_bytes} bytes{freq}")
    tables = sorted(
        d for d in os.listdir(layout_dir)
        if os.path.isdir(os.path.join(layout_dir, d))
    )
    print(f"  tables: {', '.join(tables)}")
