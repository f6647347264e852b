"""A bag-style binary log format ("SBAG") — the real S1 (reference
rosbag2parquet.cpp:41-63: sequential scan of a binary message log) rather
than the parquet-fixture stand-in.

Format ("SBAG", little-endian, deliberately bag-shaped — a header of
connection records followed by length-prefixed timestamped messages):

    magic   4s   b"SBAG"
    n_conn  u32
    per connection: u32 conn_id, u16 len + topic, u16 len + datatype,
                    u16 len + md5sum, u32 len + msg_def
    then messages until EOF:
      u32 record_len (payload portion that follows)
      u32 conn_id
      u64 time_ns
      payload bytes (record_len - 12)

Container interface (`sources/container.py`): ``open_container`` walks the
record-length prefixes once, driver-side (seeks only — the same pass the
reference's View setup does), and describes the message region as counted
record spans; ``read_units`` reads the spans of one split. The offset is
the record's byte position: stable, unique, and in file order, so seqno is
either the rank of the offset or — every span being counted — numbered in
the scan. The same offsets are the resume cursor: pure append keeps them,
and a resume refuses a changed header (every record shifts). Schema
inference for the per-type tables then uses the msg_def text from the
header via :mod:`rosbag2parquet_spark.sources.msgdef` —
exactly the reference's two-layer design (connections metadata +
schema-driven payload decode).
"""

from __future__ import annotations

import bisect
import os
import struct
from dataclasses import dataclass
from functools import lru_cache

from pyspark.sql import types as T

from rosbag2parquet_spark.sources.container import (
    Container,
    ConnRow,
    message_batch,
    record_cursor,
    record_spans,
    record_start,
)

MAGIC = b"SBAG"

MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("offset", T.LongType(), False),
        T.StructField("time_ns", T.LongType(), False),
        T.StructField("conn_id", T.IntegerType(), False),
        T.StructField("data", T.BinaryType(), False),
    ]
)


@dataclass
class ConnectionInfo:
    conn_id: int
    topic: str
    datatype: str
    md5sum: str
    msg_def: str
    # optional rosbag connection-header extras (reference records them in
    # Connections, FlattenedRosWriter.cpp:209-224); absent in SBAG fixtures
    callerid: str | None = None
    latching: str | None = None


# ------------------------------------------------------------------ writer


def write_bag(
    path: str,
    connections: list[ConnectionInfo],
    messages: list[tuple[int, int, bytes]],  # (conn_id, time_ns, payload)
) -> None:
    """Write a bag file (tests + fixtures; the reference writes its test bag
    the same way, rosbag2parquet_test.cpp:160-197)."""
    with open(path, "wb") as f:
        f.write(MAGIC)
        f.write(struct.pack("<I", len(connections)))
        for c in connections:
            f.write(struct.pack("<I", c.conn_id))
            for s in (c.topic, c.datatype, c.md5sum):
                b = s.encode()
                f.write(struct.pack("<H", len(b)) + b)
            b = c.msg_def.encode()
            f.write(struct.pack("<I", len(b)) + b)
        for conn_id, time_ns, payload in messages:
            f.write(struct.pack("<I", 12 + len(payload)))
            f.write(struct.pack("<IQ", conn_id, time_ns))
            f.write(payload)


def bag_format(path: str) -> "str | None":
    """Detect the bag grammar from MAGIC BYTES: ``'rosbag'`` (the public
    rosbag 2.0 version line) | ``'sbag'`` | ``None``. Content wins over
    extension — a rosbag with a nonstandard extension must still dispatch
    to the rosbag reader, not be parsed as SBAG and fail mid-fleet."""
    try:
        with open(path, "rb") as f:
            head = f.read(13)
    except OSError:
        return None
    if head.startswith(b"#ROSBAG V2.0\n"):  # rosbag.py's MAGIC (no circular import)
        return "rosbag"
    if head[:4] == MAGIC:
        return "sbag"
    if head.startswith(b"SQLite format"):  # rosbag2 .db3 storage container
        return "rosbag2"
    if head.startswith(b"\x89MCAP0\r\n"):  # MCAP container
        return "mcap"
    return None


def _read_exact(f, n: int, path: str) -> bytes:
    """``f.read(n)`` checked for short reads: a file cut mid-field returns
    PARTIAL bytes that would otherwise decode silently (struct.error only
    fires when a later fixed-size unpack happens to run short)."""
    b = f.read(n)
    if len(b) != n:
        raise ValueError(
            f"{path}: truncated SBAG header at byte {f.tell()} "
            f"(wanted {n} bytes, got {len(b)})"
        )
    return b


def read_header(path: str) -> tuple[list[ConnectionInfo], int]:
    """Parse the connection header; return (connections, msg_region_start).
    Truncation anywhere in the header raises a clear ValueError (every read
    is length-checked) — never a silent partial header."""
    with open(path, "rb") as f:
        if f.read(4) != MAGIC:
            raise ValueError(f"{path}: not an SBAG file")
        (n_conn,) = struct.unpack("<I", _read_exact(f, 4, path))
        conns = []
        for _ in range(n_conn):
            (cid,) = struct.unpack("<I", _read_exact(f, 4, path))
            strs = []
            for _ in range(3):
                (ln,) = struct.unpack("<H", _read_exact(f, 2, path))
                strs.append(_read_exact(f, ln, path).decode())
            (ln,) = struct.unpack("<I", _read_exact(f, 4, path))
            msg_def = _read_exact(f, ln, path).decode()
            conns.append(ConnectionInfo(cid, *strs, msg_def))
        return conns, f.tell()


def _index_offsets(path: str, start: int) -> list[int]:
    """One sequential pass over record-length prefixes → record offsets.
    Cheap (seeks only); the scan of payload bytes happens distributed."""
    offsets = []
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        pos = start
        while pos + 4 <= size:
            f.seek(pos)
            (rec_len,) = struct.unpack("<I", f.read(4))
            if pos + 4 + rec_len > size:
                raise ValueError(
                    f"{path}: record at {pos} claims {rec_len} bytes but the "
                    f"file ends at {size} — truncated bag"
                )
            offsets.append(pos)
            pos += 4 + rec_len
    return offsets


@lru_cache(maxsize=64)
def _scan_uncached(
    path: str, _mtime_ns: int, _size: int
) -> tuple[list[ConnectionInfo], list[int]]:
    conns, start = read_header(path)
    return conns, _index_offsets(path, start)


# --------------------------------------------------------------- container


def open_container(
    path: str, msgdefs: "dict[str, str] | None" = None, start: "int | None" = None
) -> Container:
    """Header + one memoized record walk; units are counted record spans
    (`container.record_spans`). ``start`` is a byte offset: records below
    it drop at plan time (the resume cursor — byte offsets are stable
    under pure append). callerid/latching pad to "" (SBAG carries none),
    so single-bag and fleet Connections tables are union-compatible."""
    st = os.stat(path)
    conns, offsets = _scan_uncached(path, st.st_mtime_ns, st.st_size)
    if start:
        offsets = offsets[bisect.bisect_left(offsets, start):]
    return Container(
        path, "sbag", "ros1",
        [
            ConnRow(c.conn_id, c.topic, c.datatype, c.md5sum, c.msg_def, "", "")
            for c in conns
        ],
        offsets[-1] if offsets else 0,
        record_spans(offsets, st.st_size),
        label="records at bytes {0}-{1}",
        index="record walk",
    )


def _record_time(path: str, offset: int) -> "int | None":
    """time_ns of the record at ``offset`` (u32 length, u32 conn, u64
    time), or None when no whole record starts there."""
    size = os.path.getsize(path)
    if offset + 16 > size:
        return None
    with open(path, "rb") as f:
        f.seek(offset)
        rec_len, _conn, time_ns = struct.unpack("<IIQ", f.read(16))
    if rec_len < 12 or offset + 4 + rec_len > size:
        return None
    return time_ns


def cursor(bag: Container) -> dict:
    """The byte-offset cursor plus the message-region start: offsets are
    header-relative, so a header that declares new connections shifts
    every record and must refuse the resume."""
    return {
        **record_cursor(bag, _record_time),
        "msg_region_start": read_header(bag.path)[1],
    }


def resume_start(path: str, state: dict) -> int:
    was = state.get("msg_region_start")
    if was is not None:
        now = read_header(path)[1]
        if now != was:
            raise ValueError(
                f"{path}: header changed since conversion ({was} -> {now} "
                "bytes) — byte offsets shifted; re-convert from scratch"
            )
    return record_start(path, state, _record_time)


def read_units(path: str, keys: list, start_ns=None, end_ns=None,
               conn_ids=None, on_error="fail"):
    """One Arrow batch per record span; the split reader
    (`container.read_split`) applies the filters."""
    with open(path, "rb") as f:
        for lo, hi in keys:
            offs, times, conns, blobs = [], [], [], []
            pos = lo
            while pos + 4 <= hi:
                f.seek(pos)
                (rec_len,) = struct.unpack("<I", f.read(4))
                # corrupt-record guards (the reference asserts full
                # consumption): rec_len < 12 would turn the payload read
                # into read-to-EOF and silently swallow the span
                if rec_len < 12:
                    raise ValueError(f"{path}@{pos}: record length {rec_len} < 12")
                conn_id, time_ns = struct.unpack("<IQ", f.read(12))
                payload = f.read(rec_len - 12)
                if len(payload) != rec_len - 12:
                    raise ValueError(
                        f"{path}@{pos}: truncated record — expected "
                        f"{rec_len - 12} payload bytes, got {len(payload)}"
                    )
                offs.append(pos)
                times.append(time_ns)
                conns.append(conn_id)
                blobs.append(payload)
                pos += 4 + rec_len
            if offs:
                yield message_batch(offs, times, conns, blobs)
