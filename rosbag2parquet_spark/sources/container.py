"""One container scan for every bag grammar — rosbag 2.0, SBAG, MCAP and
the rosbag2 ``.db3`` sqlite storage (the reference reads every bag through
one ``rosbag::View`` and takes one connection snapshot,
rosbag2parquet.cpp:44-47 / FlattenedRosWriter.cpp:30-32).

Each grammar module describes its file, reads its own bytes and owns its
resume cursor and side-car records:

- ``open_container(path, msgdefs=None, start=None)`` returns a
  :class:`Container`: grammar, payload serialization, the 7-column
  connection rows, an upper bound on the message offsets, and the
  file-order scan :class:`Unit` list (a rosbag chunk, an MCAP chunk or
  record span, an SBAG record span, a ``.db3`` rowid range). ``start`` is
  the resume cursor in the container's own unit;
- ``read_units(path, keys, start_ns=None, end_ns=None, conn_ids=None,
  on_error="fail")`` yields ``MESSAGE_SCHEMA`` Arrow batches of the units
  with those keys, in file order;
- ``cursor(bag)`` gives the resume cursor after the container's planned
  units — the ``_ingest_state.json`` keys the grammar owns, derived from
  the plan the open made (never a rescan after the write) — or None where
  the grammar cannot resume (rosbag);
- ``resume_start(path, state)`` proves a saved cursor's converted prefix
  is still the same recording and returns the ``start`` to open with;
- optionally ``sidecar_rows(path, payloads=True)``: the file's Attachments
  and Metadata rows (MCAP only).

One open per convert: callers open each file once (:func:`open_bag`) and
pass the :class:`Container` to :func:`plan_scan`, so the Connections
dim, the scan plan, the side-cars and the cursor describe one snapshot.

This module holds everything they share: the format dispatch
(:func:`open_bag` and the hook dispatchers), the record-offset cursor
(:func:`record_cursor`), unit pruning from index stats (:func:`prune`),
contiguous byte-balanced splits (:func:`group_by_bytes`), the chunked
offset encoding (:func:`offset_shift`), the Connections frame
(:func:`connections_df`), and the scan of one bag or a whole fleet. The
driver plans it (:func:`plan_scan`): the splits, and for a numbered scan
each split's seqno base, from declared unit counts
(:func:`index_seqno_bases`) or from one count job over the same splits
(:func:`split_totals`). A scan job is ``spark.range(0, n, 1, n)`` mapped
by a Python function (:func:`split_job`): task *i* reads split *i* itself
(:func:`read_split`), applying the exact row filter and numbering its
rows from the split's base. The converters' write task reads its split
the same way, so payload bytes never pass through the JVM;
:func:`read_messages` serves the same splits as a DataFrame."""

from __future__ import annotations

import functools
import importlib
import itertools
import os
from typing import NamedTuple

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

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


def _format(path: str) -> str:
    """The grammar from magic bytes (content wins over extension; the
    extension only breaks the tie for magicless files, so the matching
    reader raises its own error)."""
    from rosbag2parquet_spark.sources.baglike import bag_format

    return bag_format(path) or ("rosbag" if path.endswith(".bag") else "sbag")


def open_bag(
    path: str, msgdefs: "dict[str, str] | None" = None, start: "int | None" = None
) -> Container:
    """The container at ``path``, its grammar detected from magic bytes."""
    return _module(_format(path)).open_container(path, msgdefs, start)


def ingest_cursor(bag: Container) -> "dict | None":
    """The grammar's resume cursor after ``bag``'s planned units (None =
    the grammar cannot resume)."""
    return _module(bag.fmt).cursor(bag)


def resume_start(path: str, state: dict) -> int:
    """The ``start`` that resumes the layout whose ``_ingest_state.json``
    is ``state`` from the file at ``path``: the file must be the recorded
    bag in the recorded grammar, and its grammar proves the converted
    prefix unchanged."""
    fmt = _format(path)
    if os.path.basename(path) != state["bag"] or fmt != state["format"]:
        raise ValueError(
            f"{path} ({fmt}) does not match the layout's recorded bag "
            f"{state['bag']} ({state['format']})"
        )
    return _module(fmt).resume_start(path, state)


def sidecar_rows(bag: Container, payloads: bool = True) -> "tuple[list, list]":
    """(Attachments, Metadata) rows of ``bag`` — empty for grammars without
    side-car records (see the grammar's ``sidecar_rows``)."""
    rows = getattr(_module(bag.fmt), "sidecar_rows", None)
    return rows(bag.path, payloads) if rows else ([], [])


def record_cursor(bag: Container, probe) -> dict:
    """Cursor of a grammar whose offsets are append-stable record
    addresses (``.db3`` rowid, SBAG or unchunked-MCAP byte offset): the
    first unconverted offset, plus the last planned record's offset and
    its ``probe(path, offset)`` time — the identity :func:`record_start`
    re-reads. {} when nothing is planned."""
    if not bag.units:
        return {}
    last = bag.max_offset
    return {
        "next_offset": last + 1,
        "last_offset": last,
        "last_time_ns": probe(bag.path, last),
    }


def record_start(path: str, state: dict, probe) -> int:
    """The saved ``next_offset`` once the last converted record still
    reads back with its recorded time (O(1): one b-tree lookup or one
    seek) — a restarted recording at the same path is refused."""
    last = state["last_offset"]
    if last is not None:
        got = probe(path, last)
        if got != state["last_time_ns"]:
            raise ValueError(
                f"{path}: record at offset {last} has time_ns {got}, layout "
                f"recorded {state['last_time_ns']} — the bag was "
                "re-recorded, not grown; re-convert from scratch"
            )
    return int(state["next_offset"])


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
    ``read_units`` yields (columnar buffers, not row tuples: a row path
    serializes per record, measured ~3x slower on a 95 MB blob-dominated
    bag)."""
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


# ------------------------------------------------------------------- scan


def raise_count_error(exc: Exception) -> None:
    """Re-raise the scan's count check as the ValueError it was: Spark
    relays a worker's exception as its own error type with the Python
    traceback in the message."""
    for line in str(exc).splitlines():
        if COUNT_MISMATCH in line:
            raise ValueError(line.split("ValueError: ", 1)[-1].strip()) from exc


class ScanPlan(NamedTuple):
    """The splits of one bag or a fleet, planned on the driver
    (:func:`plan_scan`). Split *i* is what task *i* of a scan job reads
    (:func:`read_split`); plain lists only, so the plan travels to the
    workers inside the task function."""

    #: [[path, fmt, label, index, [[local, global conn id], ...] | None]]
    bags: list
    #: per split: [[bag ordinal, unit key, declared count (-1 = none)], ...]
    splits: list
    #: ``read_units``' exact row filter and error mode
    filters: dict
    fleet: bool
    #: seqno of each split's first kept row (None = not numbered)
    bases: "list | None" = None
    #: kept rows of each split, checked when the split is read to its end
    counts: "list | None" = None
    #: payload bytes of the kept rows before each split
    byte_bases: "list | None" = None
    #: keep only the rows whose running payload-byte sum stays within this
    max_bytes: "float | None" = None


def _walk(plan: ScanPlan, units: list):
    """(bag ordinal, Arrow batch) over ``units`` in file order; a unit
    that declares a count is checked against its walked rows."""
    for bag, run in itertools.groupby(units, key=lambda u: u[0]):
        path, fmt, label, index, _ = plan.bags[bag]
        read_units = _module(fmt).read_units
        run = list(run)
        if all(count < 0 for _, _, count in run):
            for batch in read_units(path, [k for _, k, _ in run], **plan.filters):
                yield bag, batch
            continue
        for _, key, count in run:
            walked = 0
            for batch in read_units(path, [key], **plan.filters):
                walked += batch.num_rows
                yield bag, batch
            # declared counts number the scan: a wrong index fails
            # loudly instead of numbering twice or leaving gaps
            if count >= 0 and walked != count:
                raise ValueError(
                    f"{path}: {label.format(*key)} holds {walked} "
                    f"messages but its {index} declares {count} — "
                    f"{COUNT_MISMATCH}"
                )


def _keep(filters: dict, batch):
    """The exact time and connection filter (planning pruned whole units
    by their index stats only)."""
    if (
        filters["start_ns"] is None and filters["end_ns"] is None
        and filters["conn_ids"] is None
    ):
        return batch
    import pyarrow as pa
    import pyarrow.compute as pc

    masks = []
    if filters["start_ns"] is not None:
        masks.append(pc.greater_equal(batch["time_ns"], filters["start_ns"]))
    if filters["end_ns"] is not None:
        masks.append(pc.less(batch["time_ns"], filters["end_ns"]))
    if filters["conn_ids"] is not None:
        ids = pa.array(filters["conn_ids"], pa.int32())
        masks.append(pc.is_in(batch["conn_id"], value_set=ids))
    return batch.filter(functools.reduce(pc.and_, masks))


def _globalize(plan: ScanPlan, batch, bag: int):
    """Fleet columns: the bag ordinal, and conn_id through the bag's
    local -> global connection map."""
    import numpy as np
    import pyarrow as pa

    path, *_, pairs = plan.bags[bag]
    if pairs is not None:
        local, glob = np.array(pairs, np.int64).reshape(-1, 2).T
        ids = batch["conn_id"].to_numpy()
        pos = np.searchsorted(local, ids)
        hit = pos < len(local)
        hit[hit] = local[pos[hit]] == ids[hit]
        if not hit.all():
            raise ValueError(
                f"{path}: unmapped connection key {ids[~hit][0]} — a "
                "message names a connection the container never declared"
            )
        batch = batch.set_column(2, "conn_id", pa.array(glob[pos], pa.int32()))
    return batch.append_column(
        "bag_index", pa.array(np.full(batch.num_rows, bag, np.int32))
    )


def read_split(plan: ScanPlan, i: int):
    """The Arrow batches of split ``i``: its units read in file order, the
    exact row filter applied, fleet columns added, rows numbered from the
    split's base, and the rows past the ``max_bytes`` cap dropped (the
    reference's byte-bounded scan, rosbag2parquet.cpp:56-58: the running
    sum starts at the split's byte base, so a split past the cap reads
    nothing and the split holding it stops there). A split read to its
    end checks its rows against its planned count. Only split ``i``'s
    bytes are read, so a retried task reads what its first attempt did."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    cap = plan.max_bytes
    spent = 0 if plan.byte_bases is None else plan.byte_bases[i]
    if cap is not None and spent > cap:
        return
    walked = 0
    for bag, batch in _walk(plan, plan.splits[i]):
        batch = _keep(plan.filters, batch)
        if not batch.num_rows:
            continue
        capped = False
        if cap is not None:
            sizes = pc.binary_length(batch["data"]).to_numpy()
            running = spent + np.cumsum(sizes, dtype=np.int64)
            kept = int(np.searchsorted(running, cap, side="right"))
            if kept < batch.num_rows:
                batch, capped = batch.slice(0, kept), True
            else:
                spent = int(running[-1])
        if plan.fleet:
            batch = _globalize(plan, batch, bag)
        if plan.bases is not None:
            lo = plan.bases[i] + walked
            seqno = np.arange(lo, lo + batch.num_rows, dtype=np.int64)
            batch = batch.append_column("seqno", pa.array(seqno))
        walked += batch.num_rows
        if batch.num_rows:
            yield batch
        if capped:
            return
    if plan.counts is not None and walked != plan.counts[i]:
        bag, key, _ = plan.splits[i][0]
        path, _, label, _, _ = plan.bags[bag]
        raise ValueError(
            f"{path}: the split from {label.format(*key)} holds {walked} "
            f"messages but the count job counted {plan.counts[i]} — "
            f"{COUNT_MISMATCH}"
        )


def read_splits(plan: ScanPlan, ids):
    """The ``mapInArrow`` function of a scan job (:func:`split_job`): the
    batches of every split whose id arrives in ``ids``."""
    for b in ids:
        for i in b.column(0).to_pylist():
            yield from read_split(plan, i)


def split_job(spark: SparkSession, plan: ScanPlan, fn, schema) -> DataFrame:
    """``fn`` over ``plan``'s splits, one task each: task *i* receives the
    one-row batch holding *i* (``spark.range(0, n, 1, n)``), so no payload
    byte enters the JVM before ``fn`` turns it into its output."""
    n = len(plan.splits)
    return spark.range(0, n, 1, max(1, n)).mapInArrow(fn, schema)


def _count_split(plan: ScanPlan, ids):
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in ids:
        for i in b.column(0).to_pylist():
            rows = nbytes = 0
            for batch in read_split(plan, i):
                rows += batch.num_rows
                nbytes += pc.sum(pc.binary_length(batch["data"])).as_py() or 0
            yield pa.record_batch(
                [pa.array([i], pa.int32()), pa.array([rows], pa.int64()),
                 pa.array([nbytes], pa.int64())],
                names=["split", "rows", "bytes"],
            )


def split_totals(spark: SparkSession, plan: ScanPlan) -> "list[tuple[int, int]]":
    """(kept rows, payload bytes) of each split of ``plan``: one narrow
    count job that returns only these numbers."""
    if not plan.splits:
        return []
    job = split_job(
        spark, plan, functools.partial(_count_split, plan),
        "split int, rows long, bytes long",
    )
    try:
        got = {r.split: (r.rows, r.bytes) for r in job.collect()}
    except PySparkException as exc:
        raise_count_error(exc)
        raise
    return [got[i] for i in range(len(plan.splits))]


def plan_scan(
    spark: SparkSession,
    path: "str | Container | list",
    num_partitions: int = 8,
    *,
    start_ns: "int | None" = None,
    end_ns: "int | None" = None,
    conn_ids: "list[int] | None" = None,
    start: "int | None" = None,
    on_error: str = "fail",
    seqno: bool = False,
    conn_maps: "list[dict[int, int]] | None" = None,
    max_bytes: "float | None" = None,
) -> ScanPlan:
    """The splits of a scan (see :func:`read_messages` for the arguments):
    the driver opens the container, prunes its units by the time range
    and ``conn_ids``, and groups the survivors into at most
    ``num_partitions`` contiguous byte-balanced splits.

    ``seqno=True`` numbers the scan by one rule: each split numbers its
    kept rows from a base, the prefix sum of the rows of the splits
    before it (the reference's one counter, FlattenedRosWriter.cpp:256).
    Without a row filter over units that all declare a count
    (`index_seqno_bases`) the counts give the bases; otherwise one count
    job over the same splits does (:func:`split_totals`). ``max_bytes``
    caps the scan's payload bytes: the count job then also gives each
    split's byte base."""
    fleet = not isinstance(path, (str, Container))
    bags = [
        p if isinstance(p, Container) else open_bag(p, start=start)
        for p in (path if fleet else [path])
    ]
    kept = [
        (i, u) for i, b in enumerate(bags)
        for u in prune(b.units, start_ns, end_ns, conn_ids)
    ]
    groups = group_by_bytes(
        [[i, list(u.key), u.count] for i, u in kept],
        [u.weight for _, u in kept],
        num_partitions,
    )
    plan = ScanPlan(
        bags=[
            [os.path.abspath(b.path), b.fmt, b.label, b.index,
             None if conn_maps is None else sorted(conn_maps[i].items())]
            for i, b in enumerate(bags)
        ],
        splits=groups,
        filters={
            "start_ns": start_ns, "end_ns": end_ns, "on_error": on_error,
            "conn_ids": None if conn_ids is None else [int(c) for c in conn_ids],
        },
        fleet=fleet,
    )
    if not seqno and max_bytes is None:
        return plan
    filtered = start_ns is not None or end_ns is not None or conn_ids is not None
    totals = None
    if (
        max_bytes is not None or filtered
        or index_seqno_bases([u for _, u in kept]) is None
    ):
        totals = split_totals(spark, plan)
        counts = [rows for rows, _ in totals]
    else:
        counts = [sum(c for _, _, c in g) for g in groups]
    return plan._replace(
        bases=list(itertools.accumulate(counts, initial=0))[:-1] if seqno else None,
        counts=counts,
        byte_bases=None if max_bytes is None else list(
            itertools.accumulate((b for _, b in totals), initial=0)
        )[:-1],
        max_bytes=max_bytes,
    )


def _scan_schema(plan: ScanPlan) -> T.StructType:
    """The columns :func:`read_split` yields for ``plan``."""
    from rosbag2parquet_spark.sources.baglike import MESSAGE_SCHEMA

    fields = list(MESSAGE_SCHEMA.fields)
    if plan.fleet:
        fields.append(T.StructField("bag_index", T.IntegerType(), False))
    if plan.bases is not None:
        fields.append(T.StructField("seqno", T.LongType(), False))
    return T.StructType(fields)


def read_messages(
    spark: SparkSession,
    path: "str | Container | list",
    num_partitions: int = 8,
    *,
    start_ns: "int | None" = None,
    end_ns: "int | None" = None,
    conn_ids: "list[int] | None" = None,
    start: "int | None" = None,
    on_error: str = "fail",
    seqno: bool = False,
    conn_maps: "list[dict[int, int]] | None" = None,
) -> DataFrame:
    """(offset, time_ns, conn_id, data) of any bag as a DataFrame, in one
    scan shape: :func:`plan_scan` plans the splits on the driver, and one
    task per split reads it (:func:`split_job` over :func:`read_splits`),
    applying the exact time/connection filter itself (``.db3`` also
    pushes it into its sqlite ``WHERE``). Offsets do not depend on
    pruning or splitting. ``path`` may be an opened :class:`Container`
    (the converters pass the one they opened, so the scan plans from that
    snapshot). ``start`` is the resume cursor a path opens with, in the
    container's own unit (``.db3`` rowid, SBAG or unchunked-MCAP byte
    offset, MCAP chunk index). ``on_error='permissive'`` salvages
    CRC-failed MCAP chunks.

    A LIST of paths or containers is a fleet read as one scan: the splits
    cover the bags' units in (bag, file) order, and a trailing
    ``bag_index`` (the bag's position in the list) follows ``data``;
    ``conn_maps[i]`` maps bag i's connection ids to global ones, and an id
    missing from it fails the read.

    ``seqno=True`` adds a trailing global ``seqno`` (the numbering rule of
    :func:`plan_scan`). Each split checks its rows against its total —
    equal to ``assign_seqno`` over (bag, offset) with no exchange and no
    window in the numbered scan."""
    plan = plan_scan(
        spark, path, num_partitions, start_ns=start_ns, end_ns=end_ns,
        conn_ids=conn_ids, start=start, on_error=on_error, seqno=seqno,
        conn_maps=conn_maps,
    )
    return split_job(
        spark, plan, functools.partial(read_splits, plan), _scan_schema(plan)
    )
