"""One container scan for every bag grammar — rosbag 2.0, SBAG, MCAP and
the rosbag2 ``.db3`` sqlite storage (the reference reads every bag through
one ``rosbag::View`` and takes one connection snapshot,
rosbag2parquet.cpp:44-47 / FlattenedRosWriter.cpp:30-32).

Each format module describes its file and reads its own bytes with two
functions:

- ``open_container(path, msgdefs=None, start=None)`` returns a
  :class:`Container`: grammar, payload serialization, the 7-column
  connection rows, an upper bound on the message offsets, and the
  file-order scan :class:`Unit` list (a rosbag chunk, an MCAP chunk or
  record span, an SBAG record span, a ``.db3`` rowid range). ``start`` is
  the resume cursor in the container's own unit;
- ``read_units(path, keys, start_ns=None, end_ns=None, conn_ids=None,
  on_error="fail")`` yields ``MESSAGE_SCHEMA`` Arrow batches of the units
  with those keys, in file order.

This module holds everything they share: the format dispatch
(:func:`open_bag`), unit pruning from index stats (:func:`prune`),
contiguous byte-balanced splits (:func:`group_by_bytes`), the chunked
offset encoding (:func:`offset_shift`), the seqno bucket width
(:func:`bucket_width`), index-derived seqno (:func:`index_seqno_bases`),
the Connections frame (:func:`connections_df`), and the one Python
DataSource that reads planned splits (:func:`read_messages`)."""

from __future__ import annotations

import importlib
import json
import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

#: format key (``baglike.bag_format``) -> module under ``sources``
_MODULES = {
    "rosbag": "rosbag", "sbag": "baglike", "mcap": "mcap", "rosbag2": "rosbag2",
}

#: the Connections dim (reference README.md:35-42, FlattenedRosWriter.cpp:
#: 209-224)
CONN_SCHEMA = (
    "connection_id int, topic string, datatype string, md5sum string, "
    "msg_def string, callerid string, latching string"
)

#: marker of the per-unit count check failure; the converter finds it in
#: the error Spark relays from the Python worker
COUNT_MISMATCH = "inconsistent container index"

#: floor for the scan-derived shift — 20 bits = 1 MiB covers rosbag's
#: default 768 KB chunk threshold, so typical bags share one shift value
_MIN_SHIFT = 20

#: record spans (SBAG, unchunked MCAP) close at this many records or bytes,
#: so one span is one Arrow batch of bounded size
SPAN_RECORDS = 2048
SPAN_BYTES = 1 << 20


class ConnRow(NamedTuple):
    """One Connections row. ``msg_def`` None = the container carries no
    definition for the type (a pre-Iron ``.db3`` without ``msgdefs``)."""

    connection_id: int
    topic: str
    datatype: str
    md5sum: str
    msg_def: "str | None"
    callerid: "str | None"
    latching: "str | None"


class Unit(NamedTuple):
    """One scan unit. ``key`` is what the format's ``read_units`` needs to
    find it (JSON-serializable); ``weight`` its bytes (rows for ``.db3``),
    which balances the splits; ``count`` its message count, -1 unknown;
    ``start_ns``/``end_ns`` its time bounds and ``conns`` its connection
    ids — 0/0 and () are unknown and never pruned."""

    key: tuple
    weight: int
    count: int = -1
    start_ns: int = 0
    end_ns: int = 0
    conns: tuple = ()


class Container(NamedTuple):
    """What ``open_container`` reports about one file. ``label`` (formatted
    with a unit key) and ``index`` word the count check: "<label> holds W
    messages but its <index> declares D"."""

    path: str
    fmt: str
    serialization: str
    rows: list
    max_offset: int
    units: list
    label: str
    index: str

    @property
    def conn_rows(self) -> "list[ConnRow]":
        """The Connections rows; refuses types without a definition."""
        missing = sorted({r.datatype for r in self.rows if r.msg_def is None})
        if missing:
            raise ValueError(
                f"{self.fmt} {self.path}: no message definition for "
                f"{missing} — the bag embeds none; pass msgdefs={{type: text}}"
            )
        return self.rows


def _module(fmt: str):
    return importlib.import_module(f"rosbag2parquet_spark.sources.{_MODULES[fmt]}")


def open_bag(
    path: str, msgdefs: "dict[str, str] | None" = None, start: "int | None" = None
) -> Container:
    """The container at ``path``, its grammar detected from magic bytes
    (content wins over extension; the extension only breaks the tie for
    magicless files, so the matching reader raises its own error)."""
    from rosbag2parquet_spark.sources.baglike import bag_format

    fmt = bag_format(path) or ("rosbag" if path.endswith(".bag") else "sbag")
    return _module(fmt).open_container(path, msgdefs, start)


def prune(
    units: "list[Unit]",
    start_ns: "int | None" = None,
    end_ns: "int | None" = None,
    conn_ids: "list[int] | None" = None,
) -> "list[Unit]":
    """Units that may hold a message in [start_ns, end_ns) on one of
    ``conn_ids`` — plan-time pushdown from the container's index stats
    (the role parquet row-group min/max play). Units with unknown bounds
    or connection sets always survive."""
    want = None if conn_ids is None else {int(c) for c in conn_ids}
    out = []
    for u in units:
        if u.start_ns or u.end_ns:
            if start_ns is not None and u.end_ns < start_ns:
                continue
            if end_ns is not None and u.start_ns >= end_ns:
                continue
        if want is not None and u.conns and not want.intersection(u.conns):
            continue
        out.append(u)
    return out


def group_by_bytes(items: list, weights: "list[int]", n: int) -> "list[list]":
    """Split ``items`` (in file order) into at most ``n`` CONTIGUOUS groups
    of about equal total weight: each item joins the group its weight
    midpoint falls in. Contiguity keeps every split one bag-order range,
    so each output file covers one disjoint seqno range."""
    w = [max(1, int(x)) for x in weights]
    total = sum(w)
    n = max(1, min(n, len(items)))
    groups: list[list] = [[] for _ in range(n)]
    cum = 0
    for item, x in zip(items, w):
        groups[min(n - 1, (2 * cum + x) * n // (2 * total))].append(item)
        cum += x
    return [g for g in groups if g]


def record_spans(offsets: "list[int]", end: int) -> "list[Unit]":
    """Units over self-delimiting records at ``offsets`` (file order; the
    last record ends before ``end``): runs of at most ``SPAN_RECORDS``
    records and about ``SPAN_BYTES`` bytes, each keyed by its byte range
    [lo, hi) and counted."""
    units = []
    i, n = 0, len(offsets)
    while i < n:
        j = i + 1
        while (
            j < n and j - i < SPAN_RECORDS and offsets[j] - offsets[i] < SPAN_BYTES
        ):
            j += 1
        hi = offsets[j] if j < n else end
        units.append(Unit((offsets[i], hi), hi - offsets[i], j - i))
        i = j
    return units


def offset_shift(sizes) -> int:
    """Bits reserved for the within-chunk position of a chunked container's
    offset ``(chunk_index << shift) | inner``: enough for the LARGEST
    declared decompressed chunk, so arbitrarily large spec-conformant
    chunks keep offsets unique and file-order monotone."""
    return max(_MIN_SHIFT, int(max(sizes, default=0)).bit_length())


def bucket_width(max_offset: int) -> int:
    """`assign_seqno` bucket width over offsets in [0, max_offset]: at most
    64 buckets whatever the offset encoding (dense rowids, byte positions
    or sparse chunk-index offsets), so the driver-side prefix-sum map
    stays small."""
    return max(1, max_offset // 64 + 1)


def index_seqno_bases(units: "list[Unit]") -> "list[int] | None":
    """Per-unit seqno base: the prefix sum of the declared counts in file
    order (the container's stored form of the reference's one global
    counter, FlattenedRosWriter.cpp:256). None when any unit lacks a
    count — such a scan cannot number itself."""
    if any(u.count < 0 for u in units):
        return None
    bases, acc = [], 0
    for u in units:
        bases.append(acc)
        acc += u.count
    return bases


def message_batch(offsets, times, conn_ids, blobs):
    """One ``MESSAGE_SCHEMA`` Arrow batch from its four columns — what every
    ``read_units`` yields (columnar buffers, not row tuples: the Python
    DataSource row path serializes per record, measured ~3x slower on a
    95 MB blob-dominated bag)."""
    import pyarrow as pa

    return pa.record_batch(
        [
            pa.array(offsets, pa.int64()),
            pa.array(times, pa.int64()),
            pa.array(conn_ids, pa.int32()),
            pa.array(blobs, pa.binary()),
        ],
        names=["offset", "time_ns", "conn_id", "data"],
    )


def connections_df(spark: SparkSession, rows: list) -> DataFrame:
    """The Connections dim from driver-held rows — no job."""
    return spark.createDataFrame(rows, CONN_SCHEMA)


# -------------------------------------------------------------- datasource


class _Split(InputPartition):
    def __init__(self, units: list):
        #: [[unit key, declared count, seqno base (-1 = none)], ...]
        self.units = units


class _SplitReader(DataSourceReader):
    def __init__(self, options):
        self.path = options["path"]
        self.fmt = options["fmt"]
        self.splits = json.loads(options["splits"])
        self.filters = json.loads(options["filters"])
        self.label = options["label"]
        self.index = options["index"]

    def partitions(self):
        # the driver planned every split: no file I/O here
        return [_Split(s) for s in self.splits] or [_Split([])]

    def read(self, split: _Split):
        import numpy as np
        import pyarrow as pa

        read_units = _module(self.fmt).read_units
        if all(count < 0 for _, count, _ in split.units):
            yield from read_units(
                self.path, [key for key, _, _ in split.units], **self.filters
            )
            return
        for key, count, base in split.units:
            walked = 0
            for batch in read_units(self.path, [key], **self.filters):
                if base >= 0:
                    lo = base + walked
                    batch = batch.append_column(
                        "seqno",
                        pa.array(np.arange(lo, lo + batch.num_rows, dtype=np.int64)),
                    )
                walked += batch.num_rows
                yield batch
            # index-derived seqno trusts the declared count: a wrong index
            # fails loudly instead of numbering twice or leaving gaps
            if count >= 0 and walked != count:
                raise ValueError(
                    f"{self.path}: {self.label.format(*key)} holds {walked} "
                    f"messages but its {self.index} declares {count} — "
                    f"{COUNT_MISMATCH}"
                )


class ContainerDataSource(DataSource):
    """``spark.read.format("bagscan")`` over splits planned by
    :func:`read_messages`."""

    @classmethod
    def name(cls) -> str:
        return "bagscan"

    def schema(self):
        from rosbag2parquet_spark.sources.baglike import MESSAGE_SCHEMA

        if self.options.get("seqno") != "true":
            return MESSAGE_SCHEMA
        return T.StructType(
            MESSAGE_SCHEMA.fields + [T.StructField("seqno", T.LongType(), False)]
        )

    def reader(self, schema):
        return _SplitReader(self.options)


def read_messages(
    spark: SparkSession,
    path: str,
    num_partitions: int = 8,
    *,
    start_ns: "int | None" = None,
    end_ns: "int | None" = None,
    conn_ids: "list[int] | None" = None,
    start: "int | None" = None,
    on_error: str = "fail",
    seqno: bool = False,
) -> DataFrame:
    """(offset, time_ns, conn_id, data) of any bag, in one scan shape: the
    driver opens the container, prunes its units by the time range and
    ``conn_ids``, groups the survivors into at most ``num_partitions``
    contiguous byte-balanced splits, and one DataSource reads each split
    in one task. The exact time/connection filter then runs once on the
    result (``.db3`` also pushes it into its sqlite ``WHERE``). Offsets do
    not depend on pruning or splitting. ``start`` is the resume cursor in
    the container's own unit (``.db3`` rowid, SBAG byte offset, MCAP chunk
    index). ``on_error='permissive'`` salvages CRC-failed MCAP chunks.

    ``seqno=True`` adds a trailing global ``seqno`` numbered in the scan
    from the units' declared counts (`index_seqno_bases`), each unit
    checked against its count — equal to ``assign_seqno`` over ``offset``
    without its count job, shuffle and window. It numbers every unit, so
    it refuses filters and units without a count."""
    filtered = start_ns is not None or end_ns is not None or conn_ids is not None
    if seqno and filtered:
        raise ValueError(
            "seqno=True numbers the whole bag; a filtered read must "
            "renumber its kept rows with assign_seqno"
        )
    bag = open_bag(path, start=start)
    units = prune(bag.units, start_ns, end_ns, conn_ids)
    bases = index_seqno_bases(units) if seqno else [-1] * len(units)
    if bases is None:
        raise ValueError(
            f"{path}: seqno=True needs a {bag.index} message count for every "
            "unit — number this bag with assign_seqno"
        )
    splits = group_by_bytes(
        [[list(u.key), u.count, b] for u, b in zip(units, bases)],
        [u.weight for u in units],
        num_partitions,
    )
    filters = {
        "start_ns": start_ns, "end_ns": end_ns, "on_error": on_error,
        "conn_ids": None if conn_ids is None else [int(c) for c in conn_ids],
    }
    spark.dataSource.register(ContainerDataSource)
    df = (
        spark.read.format("bagscan")
        .option("path", os.path.abspath(path))
        .option("fmt", bag.fmt)
        .option("splits", json.dumps(splits))
        .option("filters", json.dumps(filters))
        .option("label", bag.label)
        .option("index", bag.index)
        .option("seqno", "true" if seqno else "false")
        .load()
    )
    if start_ns is not None:
        df = df.filter(F.col("time_ns") >= start_ns)
    if end_ns is not None:
        df = df.filter(F.col("time_ns") < end_ns)
    if conn_ids is not None:
        df = df.filter(F.col("conn_id").isin(filters["conn_ids"]))
    return df
