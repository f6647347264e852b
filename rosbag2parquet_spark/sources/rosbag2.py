"""ROS 2 rosbag2 source: the modern bag container (.db3 = SQLite storage
plugin) with CDR-serialized payloads — widening S1 beyond the rosbag 1.x
grammar the reference supports (rosbag2parquet.cpp:44-47 consumes ROS 1
bags only; a ROS 2 user has no path through the reference at all).

Container (public rosbag2 sqlite3 storage schema): a SQLite file with
``topics(id, name, type, serialization_format, ...)`` and
``messages(id, topic_id, timestamp, data)``; messages are written in
recording order, so ``messages.id`` (the rowid) is the in-file order —
the analog of the byte offset our other sources expose.

Serialization (public OMG CDR / DDS XCDR1, little-endian): a 4-byte
encapsulation header ``{0x00, 0x01, options:u16}`` then the struct fields,
each primitive aligned to its size RELATIVE TO THE POST-HEADER ORIGIN;
strings are u32-length-prefixed INCLUDING a trailing NUL; sequences are
u32-count-prefixed. This differs from ROS 1 serialization (packed, no
alignment, string length excludes NUL) only in the rules of the
``decode.WIRE`` table: the one decoder (``sources/decode.py``, with
``serialization='cdr'``) walks the SAME parsed message-definition tree, so
the flattened schema (``to_struct_type``) is shared between both
generations.

Schema self-description (the reference's core property — the definition
text travels INSIDE the container, FlattenedRosWriter.cpp:30-32 /
README.md:116-117): modern rosbag2 (sqlite storage schema v4, ROS 2
Iron+) embeds the concatenated definition text in a
``message_definitions(topic_type, encoding, encoded_message_definition)``
table with ``ros2msg``/``ros1msg`` encoding — the same
``====``-delimited syntax our parser already consumes for rosbag 1.x and
MCAP. When that table is present, no side channel is needed; older
(pre-Iron) bags carry no definitions, so the caller supplies
``msgdefs={datatype: definition_text}`` (caller-supplied entries override
embedded ones either way). For the builtin_interfaces types write the
fields out (``int32 sec`` / ``uint32 nanosec``).

Container interface (`sources/container.py`): ``open_container`` reads the
topics, the definitions and min/max(id), and describes the ``messages``
table as rowid-range units; ``read_units`` opens the SQLite file read-only
and reads only its split's ranges, so a multi-GB bag scans in parallel
exactly like the byte-range-partitioned binary sources.
"""

from __future__ import annotations

import os
import sqlite3
from dataclasses import dataclass

from rosbag2parquet_spark.sources.container import (
    Container,
    ConnRow,
    Unit,
    message_batch,
    record_cursor,
    record_start,
)

SQLITE_MAGIC = b"SQLite format 3\x00"

#: CDR little-endian encapsulation header (XCDR1)
CDR_LE_HEADER = b"\x00\x01\x00\x00"


@dataclass
class Rosbag2Topic:
    topic_id: int
    name: str
    datatype: str
    serialization_format: str


def is_rosbag2(path: str) -> bool:
    try:
        with open(path, "rb") as f:
            return f.read(16) == SQLITE_MAGIC
    except OSError:
        return False


def read_topics(path: str) -> list[Rosbag2Topic]:
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        rows = con.execute(
            "SELECT id, name, type, serialization_format FROM topics ORDER BY id"
        ).fetchall()
    finally:
        con.close()
    return [Rosbag2Topic(*r) for r in rows]


def rosbag2_dir_shards(path: str) -> "list[str] | None":
    """A recorded rosbag2 is a DIRECTORY: ``metadata.yaml`` plus one or
    more storage shards (rosbag2 splits on size/duration). Returns the
    shard paths in the RECORDED order (``relative_file_paths`` — the replay
    order, which alphabetical sorting does not guarantee), or None when
    ``path`` is not such a directory. Only the tiny yaml is read here —
    shard scanning stays with the per-file planners."""
    meta = os.path.join(path, "metadata.yaml")
    if not (os.path.isdir(path) and os.path.isfile(meta)):
        return None
    import yaml

    with open(meta) as f:
        doc = yaml.safe_load(f)
    info = (doc or {}).get("rosbag2_bagfile_information")
    if not isinstance(info, dict):
        raise ValueError(
            f"{meta}: no rosbag2_bagfile_information mapping — not a "
            "rosbag2 metadata.yaml"
        )
    rel = info.get("relative_file_paths")
    if not rel:
        raise ValueError(f"{meta}: empty relative_file_paths")
    shards = [os.path.join(path, r) for r in rel]
    missing = [s for s in shards if not os.path.isfile(s)]
    if missing:
        raise ValueError(f"{path}: metadata.yaml names missing shards {missing}")
    comp_fmt = (info.get("compression_format") or "").strip()
    comp_mode = (info.get("compression_mode") or "").strip().upper()
    if comp_fmt and comp_mode == "MESSAGE":
        # per-payload zstd frames: rewrite each shard once into a scratch
        # .db3 with decompressed blobs (driver-side, cached on identity) —
        # the same normalization `ros2 bag convert` performs; MESSAGE-mode
        # shards are size-capped by the recorder, so the one-time rewrite
        # is bounded per shard
        if comp_fmt != "zstd":
            raise ValueError(
                f"{path}: unsupported compression_format {comp_fmt!r} "
                "(rosbag2 ships zstd)"
            )
        return [_message_decompressed_shard(s) for s in shards]
    if comp_fmt:
        # FILE-mode compression (rosbag2's default when enabled): shards
        # are whole-file zstd frames (*.db3.zstd). sqlite can't read a
        # compressed file any more than `ros2 bag play` can — the player
        # decompresses to scratch first; we do the same, once per shard,
        # cached on (path, mtime, size) identity
        if comp_fmt != "zstd":
            raise ValueError(
                f"{path}: unsupported compression_format {comp_fmt!r} "
                "(rosbag2 ships zstd)"
            )
        shards = [_decompressed_shard(s) for s in shards]
    return shards


def _message_decompressed_shard(path: str) -> str:
    """Rewrite a MESSAGE-mode shard into scratch with every payload's zstd
    frame decompressed (schema and row ids preserved), cached on file
    identity like the FILE-mode path."""
    import hashlib
    import shutil
    import sqlite3 as _sq
    import tempfile

    import pyarrow as pa

    st = os.stat(path)
    tag = hashlib.md5(
        f"msg:{os.path.abspath(path)}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()
    scratch = os.path.join(tempfile.gettempdir(), "rosbag2parquet_spark_zstd")
    os.makedirs(scratch, exist_ok=True)
    out = os.path.join(scratch, f"{tag}.db3")
    if os.path.isfile(out):
        return out
    # per-process unique temp name: two concurrent converters of the same
    # shard must never interleave writes into one .part file (whichever
    # os.replace lands last publishes an IDENTICAL result)
    fd, tmp = tempfile.mkstemp(suffix=".part", prefix=tag, dir=scratch)
    os.close(fd)
    shutil.copy(path, tmp)  # keeps topics/message_definitions/schema intact
    def _unzstd(blob: bytes) -> bytes:
        # streaming decode: zstd frames need no size hint this way
        with pa.input_stream(pa.BufferReader(blob), compression="zstd") as f:
            return bytes(f.read())

    con = _sq.connect(tmp)
    try:
        rows = con.execute("SELECT id, data FROM messages").fetchall()
        con.executemany(
            "UPDATE messages SET data = ? WHERE id = ?",
            ((_unzstd(blob), rid) for rid, blob in rows),
        )
        con.commit()
    finally:
        con.close()
    os.replace(tmp, out)
    return out


def _decompressed_shard(path: str) -> str:
    """Streaming-decompress a FILE-mode zstd shard into a scratch file
    (reused across runs via the same (path, mtime, size) identity the MCAP
    scan memo uses); returns the decompressed path."""
    import hashlib
    import tempfile

    import pyarrow as pa

    st = os.stat(path)
    tag = hashlib.md5(
        f"{os.path.abspath(path)}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()
    scratch = os.path.join(
        tempfile.gettempdir(), "rosbag2parquet_spark_zstd"
    )
    os.makedirs(scratch, exist_ok=True)
    out = os.path.join(scratch, f"{tag}.db3")
    if os.path.isfile(out):
        return out
    # per-process unique temp name (see _message_decompressed_shard)
    fd, tmp = tempfile.mkstemp(suffix=".part", prefix=tag, dir=scratch)
    os.close(fd)
    with pa.input_stream(path, compression="zstd") as src, open(tmp, "wb") as dst:
        while True:
            chunk = src.read(1 << 22)
            if not chunk:
                break
            dst.write(chunk)
    os.replace(tmp, out)  # atomic publish — concurrent callers converge
    return out


def read_embedded_msgdefs(path: str) -> dict[str, str]:
    """Definition text embedded in the container (sqlite storage schema v4,
    ROS 2 Iron+): ``message_definitions(topic_type, encoding,
    encoded_message_definition)`` with ``ros2msg``/``ros1msg`` encoding —
    concatenated ``====``-delimited text, exactly what ``parse_msgdef``
    consumes. Returns {} for pre-Iron bags (no such table); unknown
    encodings (``ros2idl``) are skipped rather than failed so a mixed bag
    still resolves every type it can (the caller's msgdefs fill gaps)."""
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        tables = {
            r[0]
            for r in con.execute(
                "SELECT name FROM sqlite_master WHERE type='table'"
            )
        }
        if "message_definitions" not in tables:
            return {}
        rows = con.execute(
            "SELECT topic_type, encoding, encoded_message_definition "
            "FROM message_definitions ORDER BY id"
        ).fetchall()
    finally:
        con.close()
    out: dict[str, str] = {}
    for topic_type, encoding, text in rows:
        if encoding in ("ros2msg", "ros1msg") and text:
            out[topic_type] = text
    return out


# --------------------------------------------------------------- container

#: rows per rowid-range unit, at most; small bags get smaller units so a
#: split count up to 64 still finds one unit per split
_UNIT_ROWS = 4096


def open_container(
    path: str, msgdefs: "dict[str, str] | None" = None, start: "int | None" = None
) -> Container:
    """The Connections rows in the engine's 7-column shape (reference
    FlattenedRosWriter.cpp:209-224; md5sum/callerid/latching pad "" — the
    sqlite3 storage schema carries none of them), and rowid-range units
    from one min/max(id) probe. Definition text resolves embedded-first
    (``message_definitions``, Iron+) with caller ``msgdefs`` overriding and
    filling — the common modern bag needs no side channel, matching the
    reference's schema-travels-in-the-bag property (README.md:116-117); a
    type left without one carries msg_def None, which the converter
    refuses. ``start`` is the resume cursor, a rowid: sqlite rowids are
    append-stable, so a GROWING recording converts its delta via the
    primary-key b-tree — O(new rows), not O(bag).

    The rowid bound is read BEFORE the topics and definitions: a recorder
    registers a topic before its first message, so every planned row's
    connection is in the dim even while the file grows."""
    if not is_rosbag2(path):
        raise ValueError(f"not a rosbag2 sqlite3 file: {path}")
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        lo, hi = con.execute(
            "SELECT min(id), max(id) FROM messages WHERE id >= ?",
            (int(start or 0),),
        ).fetchone()
    finally:
        con.close()
    defs = read_embedded_msgdefs(path)
    defs.update(msgdefs or {})
    units = []
    if lo is not None:
        step = min(_UNIT_ROWS, max(1, (hi - lo + 1) // 64))
        units = [
            Unit((a, min(a + step, hi + 1)), min(step, hi + 1 - a))
            for a in range(lo, hi + 1, step)
        ]
    return Container(
        path, "rosbag2", "cdr",
        [
            ConnRow(t.topic_id, t.name, t.datatype, "", defs.get(t.datatype), "", "")
            for t in read_topics(path)
        ],
        hi or 0, units, label="rows {0}-{1}", index="rowid range",
    )


def _row_time(path: str, rowid: int) -> "int | None":
    """timestamp of the message row ``rowid``, or None if absent."""
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        row = con.execute(
            "SELECT timestamp FROM messages WHERE id = ?", (int(rowid),)
        ).fetchone()
    finally:
        con.close()
    return None if row is None else int(row[0])


def cursor(bag: Container) -> dict:
    """The rowid cursor after the planned ranges."""
    return record_cursor(bag, _row_time)


def resume_start(path: str, state: dict) -> int:
    return record_start(path, state, _row_time)


def read_units(path: str, keys: list, start_ns=None, end_ns=None,
               conn_ids=None, on_error="fail"):
    """One Arrow batch per run of adjacent rowid ranges, read through one
    read-only connection (concurrent readers are safe). The time range and
    ``conn_ids`` push INTO the sqlite WHERE — the container's own b-tree
    does the skipping instead of Spark filtering rows it already read."""
    where, args = "", ()
    if start_ns is not None:
        where, args = where + " AND timestamp >= ?", args + (int(start_ns),)
    if end_ns is not None:
        where, args = where + " AND timestamp < ?", args + (int(end_ns),)
    if conn_ids is not None:
        where += " AND topic_id IN (" + ",".join("?" * len(conn_ids)) + ")"
        args += tuple(int(c) for c in conn_ids)
    runs: list = []
    for lo, hi in keys:
        if runs and runs[-1][1] == lo:
            runs[-1][1] = hi
        else:
            runs.append([lo, hi])
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        for lo, hi in runs:
            rows = con.execute(
                "SELECT id, timestamp, topic_id, data FROM messages "
                "WHERE id >= ? AND id < ?" + where + " ORDER BY id",
                (lo, hi) + args,
            ).fetchall()
            if rows:
                yield message_batch(*zip(*rows))
    finally:
        con.close()


# ------------------------------------------------------------------ writer


def write_db3(
    path: str,
    connections: "list",
    messages: "list[tuple[int, int, bytes]]",  # (conn_id, time_ns, payload)
    *,
    serialization_format: str = "cdr",
    schema_encoding: str = "ros2msg",
) -> None:
    """Minimal self-describing (Iron+/v4) rosbag2 sqlite writer — the same
    schema the reader's embedded-definitions path consumes (topics +
    messages + message_definitions), so a written bag converts with no
    caller msgdefs. Connection ids become topic ids verbatim; payloads are
    carried as given (declare them via ``serialization_format``)."""
    import sqlite3

    con = sqlite3.connect(path)
    try:
        con.execute(
            "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT,"
            " type TEXT, serialization_format TEXT,"
            " offered_qos_profiles TEXT, type_description_hash TEXT)"
        )
        con.execute(
            "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER,"
            " timestamp INTEGER, data BLOB)"
        )
        con.execute(
            "CREATE TABLE message_definitions(id INTEGER PRIMARY KEY,"
            " topic_type TEXT, encoding TEXT,"
            " encoded_message_definition TEXT, type_description_hash TEXT)"
        )
        seen_types: set[str] = set()
        for c in connections:
            con.execute(
                "INSERT INTO topics VALUES (?,?,?,?,?,?)",
                (c.conn_id, c.topic, c.datatype, serialization_format, "",
                 c.md5sum or ""),
            )
            if c.datatype not in seen_types:
                seen_types.add(c.datatype)
                con.execute(
                    "INSERT INTO message_definitions VALUES (?,?,?,?,?)",
                    (len(seen_types), c.datatype, schema_encoding,
                     c.msg_def or "", c.md5sum or ""),
                )
        con.executemany(
            "INSERT INTO messages VALUES (?,?,?,?)",
            [(None, cid, t, p) for cid, t, p in messages],
        )
        con.commit()
    finally:
        con.close()
