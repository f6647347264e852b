"""Checks and queries over a converted layout, with every answer predicted
from the generator's :class:`bagmaker.Recording`.

The layout checks read the parquet files with pyarrow rather than Spark,
so checking a conversion adds no Spark job to the run. The query mix is
the read side the layout exists for: a ``Messages`` time-range slice, a
per-type table joined to ``Messages`` on ``seqno``, a ``seqno`` point
lookup, a per-type windowed aggregate, ``info.layout_info`` and
``convert.pertype_with_provenance``.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow.parquet as pq

from bagmaker import TOPICS, Recording, table_name

QUERY_TYPES = ("range", "join", "point", "agg", "info", "provenance")

#: per-type tables whose probe column the join query sums
PROBE_COLUMNS = {
    "geometry_msgs_Twist": "linear_x",
    "sensor_msgs_Imu": "angular_velocity_x",
}

#: one round of the query mix, as (kind, table): every kind once, the join
#: once per probed table
MIX = (
    ("range", None),
    ("join", "geometry_msgs_Twist"),
    ("join", "sensor_msgs_Imu"),
    ("point", None),
    ("agg", None),
    ("info", None),
    ("provenance", None),
)


def layout_bytes(out_dir: str) -> tuple[int, int]:
    """(files, bytes) of the layout's data files (hidden checksum files and
    ``_SUCCESS`` markers excluded)."""
    files = total = 0
    for root, _dirs, names in os.walk(out_dir):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            total += os.path.getsize(os.path.join(root, n))
    return files, total


def _conns_of_table(rec: Recording, table: str) -> list[int]:
    return [c for c, t in enumerate(TOPICS) if table_name(t.datatype) == table]


def verify_layout(rec: Recording, out_dir: str) -> None:
    """Raise AssertionError unless the layout holds exactly the recording."""
    msgs = pq.read_table(
        os.path.join(out_dir, "Messages"),
        columns=["seqno", "time_sec", "time_nsec", "size", "connection_id"],
    ).to_pandas()
    msgs = msgs.sort_values("seqno", kind="stable")
    n = rec.n_messages
    if len(msgs) != n:
        raise AssertionError(f"Messages has {len(msgs)} rows, recorded {n}")
    if not np.array_equal(msgs["seqno"].to_numpy(), np.arange(n)):
        raise AssertionError("Messages.seqno is not exactly 0..N-1")
    t = msgs["time_sec"].to_numpy(np.int64) * 1_000_000_000 + msgs["time_nsec"].to_numpy(np.int64)
    for label, got, want in (
        ("time", t, rec.time_ns),
        ("size", msgs["size"].to_numpy(np.int64), rec.size),
        ("connection_id", msgs["connection_id"].to_numpy(np.int64), rec.conn_id),
    ):
        if not np.array_equal(got, want):
            bad = int(np.argmax(got != want))
            raise AssertionError(f"Messages.{label} differs first at seqno {bad}")
    for table, sums in rec.checksums.items():
        cols = [c for c in sums if c != "rows"]
        got = pq.read_table(os.path.join(out_dir, table), columns=["seqno", *cols]).to_pandas()
        if len(got) != sums["rows"]:
            raise AssertionError(f"{table} has {len(got)} rows, recorded {sums['rows']}")
        want_seqno = np.nonzero(np.isin(rec.conn_id, _conns_of_table(rec, table)))[0]
        if not np.array_equal(np.sort(got["seqno"].to_numpy()), want_seqno):
            raise AssertionError(f"{table}.seqno does not match the bag order")
        for c in cols:
            total = got[c].sum()
            if total != sums[c]:
                raise AssertionError(f"{table}.{c} sums to {total}, recorded {sums[c]}")


@dataclass
class Query:
    run: Callable[[], object]
    want: object


#: whole seconds a windowed query spans; fixed, so that only the window's
#: position, not the amount of data it selects, changes with the seed
WINDOW_SECONDS = 2


def _sec_window(rec: Recording, rng: random.Random) -> tuple[int, int]:
    lo = int(rec.time_ns[0] // 1_000_000_000)
    hi = int(rec.time_ns[-1] // 1_000_000_000)
    a = rng.randint(lo, max(lo, hi - WINDOW_SECONDS + 1))
    return a, a + WINDOW_SECONDS - 1


def make_query(spark, rec: Recording, layout_dir: str, kind: str, rng: random.Random,
               table: "str | None" = None) -> Query:
    """One seeded query of ``kind`` with its predicted answer; ``table``
    picks the per-type table of a join or provenance query (seeded when
    None)."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.convert import pertype_with_provenance
    from rosbag2parquet_spark.info import layout_info

    def read(table: str):
        return spark.read.parquet(os.path.join(layout_dir, table))

    sec = rec.time_ns // 1_000_000_000
    if kind == "range":
        a, b = _sec_window(rec, rng)
        m = (sec >= a) & (sec <= b)
        return Query(
            lambda: tuple(
                read("Messages")
                .where(F.col("time_sec").between(a, b))
                .agg(F.count(F.lit(1)), F.coalesce(F.sum("size"), F.lit(0)))
                .collect()[0]
            ),
            (int(m.sum()), int(rec.size[m].sum())),
        )
    if kind == "join":
        table = table or rng.choice(sorted(PROBE_COLUMNS))
        col = PROBE_COLUMNS[table]
        a, b = _sec_window(rec, rng)
        m = (sec >= a) & (sec <= b) & np.isin(rec.conn_id, _conns_of_table(rec, table))
        return Query(
            lambda: tuple(
                read(table)
                .join(read("Messages").where(F.col("time_sec").between(a, b)).select("seqno"), "seqno")
                .agg(F.count(F.lit(1)), F.coalesce(F.sum(col), F.lit(0.0)))
                .collect()[0]
            ),
            (int(m.sum()), float(rec.probe[m].sum())),
        )
    if kind == "point":
        k = rng.randrange(rec.n_messages)
        t = int(rec.time_ns[k])
        return Query(
            lambda: [
                tuple(r)
                for r in read("Messages")
                .where(F.col("seqno") == k)
                .select("time_sec", "time_nsec", "size", "connection_id")
                .collect()
            ],
            [(t // 1_000_000_000, t % 1_000_000_000, int(rec.size[k]), int(rec.conn_id[k]))],
        )
    if kind == "agg":
        a, b = _sec_window(rec, rng)
        imu = _conns_of_table(rec, "sensor_msgs_Imu")
        m = (rec.stamp_sec >= a) & (rec.stamp_sec <= b) & np.isin(rec.conn_id, imu)
        want: dict = {}
        for s, c, p in zip(rec.stamp_sec[m], rec.conn_id[m], rec.probe[m]):
            n, tot = want.get((int(s), int(c)), (0, 0.0))
            want[(int(s), int(c))] = (n + 1, tot + float(p))
        return Query(
            lambda: {
                (r[0], r[1]): (r[2], r[3])
                for r in read("sensor_msgs_Imu")
                .where(F.col("header_stamp_sec").between(a, b))
                .groupBy("header_stamp_sec", "connection_id")
                .agg(F.count(F.lit(1)), F.sum("angular_velocity_x"))
                .collect()
            },
            want,
        )
    if kind == "info":
        want = {(t.datatype, t.name): (rec.topic_counts[t.name], rec.topic_bytes[t.name]) for t in TOPICS}
        want[("<all>", "<all>")] = (rec.n_messages, int(rec.size.sum()))
        return Query(
            lambda: {
                (r.datatype, r.topic): (r.n_msgs, r.total_bytes)
                for r in layout_info(spark, layout_dir).collect()
                if r.topic != "<all>" or r.datatype == "<all>"
            },
            want,
        )
    if kind == "provenance":
        table = table or table_name(rng.choice(TOPICS).datatype)
        a = rng.randrange(rec.n_messages)
        b = a + rec.n_messages // 8
        idx = np.arange(rec.n_messages)
        n = int(((idx >= a) & (idx <= b) & np.isin(rec.conn_id, _conns_of_table(rec, table))).sum())
        return Query(
            lambda: sorted(
                tuple(r)
                for r in pertype_with_provenance(spark, layout_dir, table)
                .where(F.col("seqno").between(a, b))
                .groupBy("bag")
                .count()
                .collect()
            ),
            [(os.path.basename(rec.path), n)] if n else [],
        )
    raise ValueError(f"unknown query kind {kind!r}")
