"""MCAP source: the current-generation robotics log container (public MCAP
spec, mcap.dev) — the third real bag grammar after rosbag 2.0 and the
rosbag2 sqlite3 storage, and the one that solves the definition problem:
MCAP **embeds schema text** (Schema records, encoding ``ros1msg``/
``ros2msg``), so unlike ``.db3`` no caller-supplied msgdefs are needed.

Container (all little-endian): 8-byte magic ``\\x89MCAP0\\r\\n`` at both
ends; a stream of records ``opcode:u8, length:u64, payload``. Strings are
u32-length-prefixed UTF-8. Records used here:

- Schema(0x03): ``id:u16, name:str, encoding:str, data:u32-prefixed bytes``
- Channel(0x04): ``id:u16, schema_id:u16, topic:str, message_encoding:str,
  metadata:map`` — the Connections dim
- Message(0x05): ``channel_id:u16, sequence:u32, log_time:u64,
  publish_time:u64, data:rest``
- Chunk(0x06): ``start:u64, end:u64, uncompressed_size:u64, crc:u32,
  compression:str, records_size:u64, records`` — compressed batches of the
  above ("" | "lz4" | "zstd"; lz4 frame decode shared with the rosbag
  reader, zstd via pyarrow's bundled codec)

- Footer(0x02): ``summary_start:u64, summary_offset_start:u64, crc:u32``
  — fixed 29-byte record just before the trailing magic
- ChunkIndex(0x08): start/end time, ``chunk_start_offset:u64,
  chunk_length:u64``, message-index map, compression, compressed/
  uncompressed sizes — one per chunk, in the summary section

Scale — O(index) planning, not O(file): when the file carries a summary
section (Footer.summary_start != 0 with ChunkIndex records), the driver
reads ONLY magic + footer + summary bytes and plans every chunk partition
from the ChunkIndex records — on a 100 GB MCAP over object storage that
is a few KB of ranged reads instead of a seek-walk across the whole file.
Files without a summary (or with top-level unchunked messages, which the
summary cannot enumerate) fall back to the single top-level seek-walk,
which still never decompresses chunk bodies. That plan feeds the
container interface (`sources/container.py`): ``open_container`` turns it
into scan units (chunks, or counted spans of top-level messages) and
``read_units`` decompresses and walks only the units of one split.
Offsets are ``(chunk_index << shift) | inner_pos`` for chunked files and
raw record offsets for unchunked ones (mixing both in one file is
refused — the orderings don't compose). A chunked file resumes by CHUNK
index (an appender extends the chunk list and rewrites only the summary;
the last converted chunk's identity proves the prefix), an unchunked one
by byte offset; ``sidecar_rows`` supplies the Attachment and Metadata
records the converter lands as their own tables.
"""

from __future__ import annotations

import bisect
import os
import struct
import zlib
from dataclasses import dataclass
from functools import lru_cache
from typing import NamedTuple

from rosbag2parquet_spark.sources.baglike import ConnectionInfo
from rosbag2parquet_spark.sources.container import (
    Container,
    ConnRow,
    Unit,
    message_batch,
    offset_shift,
    record_cursor,
    record_spans,
    record_start,
)

MCAP_MAGIC = b"\x89MCAP0\r\n"

OP_HEADER = 0x01
OP_FOOTER = 0x02
OP_SCHEMA = 0x03
OP_CHANNEL = 0x04
OP_MESSAGE = 0x05
OP_CHUNK = 0x06
OP_MESSAGE_INDEX = 0x07
OP_CHUNK_INDEX = 0x08
OP_ATTACHMENT = 0x09
OP_ATTACHMENT_INDEX = 0x0A
OP_METADATA = 0x0C
OP_METADATA_INDEX = 0x0D
OP_DATA_END = 0x0F

#: Footer record: opcode(1) + length(8) + payload(20), then trailing magic
_FOOTER_RECORD_LEN = 29

class McapChunkRef(NamedTuple):
    """records_off/records_size locate the (possibly compressed) inner
    record stream inside the chunk payload; size is the DECLARED
    uncompressed size; start_time/end_time are the chunk's message log-time
    bounds (ns) — both the chunk header prefix and the ChunkIndex carry
    them, so walk- and index-planned refs agree — enabling time-range
    chunk PRUNING at plan time (0 = unknown, never pruned)."""

    records_off: int
    records_size: int
    compression: str
    size: int
    start_time: int = 0
    end_time: int = 0
    #: channel ids with messages in this chunk (from MessageIndex records /
    #: ChunkIndex.message_index_offsets) — () = unknown, never pruned
    channels: tuple = ()


@dataclass
class McapScan:
    schemas: dict  # id -> (name, encoding, data bytes)
    channels: dict  # id -> (schema_id, topic, message_encoding)
    chunks: list  # list[McapChunkRef]
    message_offsets: list  # top-level Message record offsets (unchunked)


def is_mcap(path: str) -> bool:
    try:
        with open(path, "rb") as f:
            return f.read(8) == MCAP_MAGIC
    except OSError:
        return False


def _str_at(buf: bytes, pos: int) -> tuple[str, int]:
    (n,) = struct.unpack_from("<I", buf, pos)
    return buf[pos + 4 : pos + 4 + n].decode(), pos + 4 + n


def _parse_schema(payload: bytes):
    (sid,) = struct.unpack_from("<H", payload, 0)
    name, pos = _str_at(payload, 2)
    enc, pos = _str_at(payload, pos)
    (dlen,) = struct.unpack_from("<I", payload, pos)
    data = payload[pos + 4 : pos + 4 + dlen]
    return sid, (name, enc, data)


def _parse_channel(payload: bytes):
    cid, sid = struct.unpack_from("<HH", payload, 0)
    topic, pos = _str_at(payload, 4)
    enc, pos = _str_at(payload, pos)
    return cid, (sid, topic, enc)


def _parse_chunk_header(payload: bytes) -> tuple[McapChunkRef, int]:
    """Chunk payload prefix → (ref-relative-to-payload, records rel off)."""
    # start u64, end u64, uncompressed_size u64, crc u32
    t_start, t_end, size = struct.unpack_from("<QQQ", payload, 0)
    comp, pos = _str_at(payload, 28)
    (records_size,) = struct.unpack_from("<Q", payload, pos)
    records_rel = pos + 8
    return (
        McapChunkRef(records_rel, records_size, comp, size, t_start, t_end),
        records_rel,
    )


def _walk_records(buf: bytes, base: int = 0):
    """Yield (opcode, payload_start, payload_len, record_start) over a
    record stream; ``base`` shifts reported positions (for chunk-inner
    streams the caller wants positions relative to the chunk)."""
    pos = 0
    n = len(buf)
    while pos + 9 <= n:
        op = buf[pos]
        (ln,) = struct.unpack_from("<Q", buf, pos + 1)
        start = pos + 9
        if start + ln > n:
            raise ValueError(
                f"record at {base + pos} claims {ln} bytes past the end — "
                "truncated mcap"
            )
        yield op, start, ln, pos
        pos = start + ln


def scan_mcap(path: str) -> McapScan:
    """Driver-side scan plan, memoized on file identity. Indexed files
    (Footer.summary_start → ChunkIndex records) plan from magic + footer +
    summary bytes only — O(index), no walk; unindexed files fall back to a
    single top-level seek-walk. Either way chunk payload prefixes are at
    most a few dozen bytes each and chunk record streams are NOT
    decompressed.

    Cache-identity contract: the memo key is (path, mtime_ns, size) —
    exact for the append-only/immutable bags recorders produce. An
    IN-PLACE rewrite that preserves both size and mtime within filesystem
    granularity would serve a stale plan; don't rewrite bags in place
    (write a new file and rename), or touch the file to bump mtime. A
    content fingerprint would close the window but costs a full read —
    the wrong trade for object-store-sized bags."""
    st = os.stat(path)
    return _scan_mcap_uncached(path, st.st_mtime_ns, st.st_size)


def _parse_chunk_index(payload: bytes) -> "tuple[McapChunkRef, tuple[int, int]]":
    """ChunkIndex → the same McapChunkRef the walk builds: records_off is
    chunk_start_offset + record header (9) + chunk payload prefix (28 fixed
    + compression string + records_size u64); records_size is the index's
    compressed_size (the spec defines it as the size of the chunk's records
    field); size is the declared uncompressed size. Also returns the
    chunk's FILE EXTENT [chunk_start, chunk_start + chunk_length +
    message_index_length) so the summary planner can prove the index
    covers the whole data section (no silently-dropped top-level rows)."""
    t_start, t_end, chunk_start, chunk_len = struct.unpack_from(
        "<QQQQ", payload, 0
    )
    (mio_len,) = struct.unpack_from("<I", payload, 32)
    # message_index_offsets map: (channel_id u16, file_offset u64) entries —
    # the channel ids are the chunk's topic membership, the per-topic
    # pruning statistic
    channels = tuple(
        sorted(
            struct.unpack_from("<H", payload, 36 + 10 * k)[0]
            for k in range(mio_len // 10)
        )
    )
    pos = 36 + mio_len
    (mi_len,) = struct.unpack_from("<Q", payload, pos)  # message_index_length
    pos += 8
    comp, pos = _str_at(payload, pos)
    csize, usize = struct.unpack_from("<QQ", payload, pos)
    records_off = chunk_start + 9 + 28 + 4 + len(comp.encode()) + 8
    ref = McapChunkRef(
        records_off, csize, comp,
        usize or (csize if comp in ("", "none") else 0),
        t_start, t_end, channels,
    )
    return ref, (chunk_start, chunk_start + chunk_len + mi_len)


def _scan_from_summary(path: str, size: int) -> "McapScan | None":
    """O(index) plan: footer → summary section → Schema/Channel/ChunkIndex.
    Returns None when the file carries no usable summary (no footer
    pointer, or no ChunkIndex records — the latter can mean top-level
    unchunked messages, which only the walk can enumerate)."""
    with open(path, "rb") as f:
        f.seek(size - 8 - _FOOTER_RECORD_LEN)
        tail = f.read(_FOOTER_RECORD_LEN)
        if len(tail) != _FOOTER_RECORD_LEN or tail[0] != OP_FOOTER:
            return None
        (ln,) = struct.unpack_from("<Q", tail, 1)
        if ln != 20:
            return None
        (summary_start,) = struct.unpack_from("<Q", tail, 9)
        if not summary_start:
            return None
        summary_end = size - 8 - _FOOTER_RECORD_LEN
        if not 8 <= summary_start < summary_end:
            raise ValueError(
                f"{path}: footer summary_start {summary_start} outside the "
                f"file body — corrupt mcap"
            )
        f.seek(summary_start)
        buf = f.read(summary_end - summary_start)
    # Footer.summary_crc (spec: CRC-32 of summary_start..summary_offset_
    # start inclusive) — the whole plan derives from these bytes, so a
    # corrupted index is caught before it mis-plans; zero = not written
    (summary_crc,) = struct.unpack_from("<I", tail, 9 + 16)
    if summary_crc and zlib.crc32(buf + tail[: 9 + 16]) != summary_crc:
        raise ValueError(
            f"{path}: footer summary_crc mismatch — corrupted summary "
            "section; refusing the O(index) plan"
        )
    schemas: dict = {}
    channels: dict = {}
    chunks: list = []
    extents: list = []
    for op, s, ln, _ in _walk_records(buf):
        if op == OP_SCHEMA:
            sid, v = _parse_schema(buf[s : s + ln])
            schemas.setdefault(sid, v)
        elif op == OP_CHANNEL:
            cid, v = _parse_channel(buf[s : s + ln])
            channels.setdefault(cid, v)
        elif op == OP_CHUNK_INDEX:
            ref, extent = _parse_chunk_index(buf[s : s + ln])
            chunks.append(ref)
            extents.append(extent)
    if not channels or not chunks:
        return None
    _verify_summary_covers_data(path, extents, summary_start)
    # file order == offset order; the walk enumerates chunks the same way
    chunks.sort(key=lambda c: c.records_off)
    return McapScan(schemas, channels, chunks, [])


# data-section record ops a spec-shaped indexed file may legitimately hold
# OUTSIDE its chunk extents: Header, dim repeats, per-chunk MessageIndex
# (when a writer leaves message_index_length zero), Attachment(+Index),
# Metadata(+Index), DataEnd. Message and Chunk are NOT here — a top-level
# Message is data the chunk index can't plan, and a Chunk without a
# ChunkIndex is data the summary would silently drop.
_GAP_OK_OPS = frozenset(
    {OP_HEADER, OP_SCHEMA, OP_CHANNEL, OP_MESSAGE_INDEX,
     OP_ATTACHMENT, OP_ATTACHMENT_INDEX, OP_METADATA, OP_METADATA_INDEX,
     OP_DATA_END}
)


def _verify_summary_covers_data(
    path: str, extents: "list[tuple[int, int]]", summary_start: int
) -> None:
    """Prove the ChunkIndex records cover the WHOLE data section before
    trusting the O(index) plan: an indexed file that mixes chunks with
    top-level Message records (or carries a chunk missing its ChunkIndex)
    would otherwise lose those rows silently, while the walk path refuses
    the same file loudly. Tiles [8, summary_start) with the chunk extents
    (chunk_length + message_index_length, both from ChunkIndex) and walks
    only the GAPS by 9-byte record header, seeking over payloads — in a
    well-formed file the gaps are the Header record, dim repeats, and
    DataEnd, so this costs a handful of tiny reads and never touches chunk
    bodies; a Message/Chunk op in a gap raises the walk path's error."""
    spans = sorted(extents)
    with open(path, "rb") as f:
        pos = 8  # after leading magic
        for lo, hi in spans + [(summary_start, summary_start)]:
            while pos < lo:
                f.seek(pos)
                head = f.read(9)
                if len(head) < 9:
                    raise ValueError(
                        f"{path}: truncated record header at {pos}"
                    )
                op = head[0]
                (ln,) = struct.unpack("<Q", head[1:])
                if op == OP_MESSAGE:
                    raise ValueError(
                        f"{path}: mixes chunked and top-level messages "
                        f"(Message record at {pos} outside every indexed "
                        "chunk) — the offset orderings don't compose; "
                        "rewrite the file consistently"
                    )
                if op == OP_CHUNK:
                    raise ValueError(
                        f"{path}: Chunk record at {pos} has no ChunkIndex "
                        "— a partial summary would silently drop its rows; "
                        "reindex the file"
                    )
                pos += 9 + ln
            if pos > lo and lo < hi:
                raise ValueError(
                    f"{path}: gap record overruns the indexed chunk extent "
                    f"at {lo} — inconsistent ChunkIndex offsets"
                )
            pos = max(pos, hi)


@lru_cache(maxsize=64)
def _scan_mcap_uncached(path: str, _mtime_ns: int, _size: int) -> McapScan:
    size = os.path.getsize(path)
    if size >= 16 + _FOOTER_RECORD_LEN:
        with open(path, "rb") as f:
            if f.read(8) != MCAP_MAGIC:
                raise ValueError(f"{path}: not an MCAP file")
        indexed = _scan_from_summary(path, size)
        if indexed is not None:
            return indexed
    schemas: dict = {}
    channels: dict = {}
    chunks: list = []
    chunk_chans: list = []  # per-chunk channel-id sets (MessageIndex)
    message_offsets: list = []
    with open(path, "rb") as f:
        if f.read(8) != MCAP_MAGIC:
            raise ValueError(f"{path}: not an MCAP file")
        pos = 8
        while pos + 9 <= size - 8:  # trailing magic
            f.seek(pos)
            head = f.read(9)
            if len(head) < 9:
                break
            op = head[0]
            (ln,) = struct.unpack("<Q", head[1:])
            start = pos + 9
            if start + ln > size:
                raise ValueError(
                    f"{path}: record at {pos} claims {ln} bytes but the "
                    f"file ends at {size} — truncated mcap"
                )
            if op == OP_SCHEMA:
                f.seek(start)
                sid, v = _parse_schema(f.read(ln))
                schemas.setdefault(sid, v)
            elif op == OP_CHANNEL:
                f.seek(start)
                cid, v = _parse_channel(f.read(ln))
                channels.setdefault(cid, v)
            elif op == OP_CHUNK:
                f.seek(start)
                prefix = f.read(min(ln, 4096))
                ref, records_rel = _parse_chunk_header(prefix)
                chunks.append(
                    McapChunkRef(
                        start + ref.records_off,
                        ref.records_size,
                        ref.compression,
                        ref.size or (ref.records_size if ref.compression in ("", "none") else 0),
                        ref.start_time,
                        ref.end_time,
                    )
                )
                chunk_chans.append(set())
            elif op == OP_MESSAGE_INDEX and chunk_chans:
                # spec: message index records follow their chunk — the
                # channel id (payload prefix) is the chunk's membership
                f.seek(start)
                (mcid,) = struct.unpack("<H", f.read(2))
                chunk_chans[-1].add(mcid)
            elif op == OP_MESSAGE:
                message_offsets.append(pos)
            pos = start + ln
    chunks = [
        c._replace(channels=tuple(sorted(chs))) if chs else c
        for c, chs in zip(chunks, chunk_chans)
    ]
    if chunks and message_offsets:
        raise ValueError(
            f"{path}: mixes chunked and top-level messages — the offset "
            "orderings don't compose; rewrite the file consistently"
        )
    if not channels:
        # harvest from the first chunk (files written without a summary
        # section) — same fallback shape as the unindexed-rosbag path
        for ref in chunks[:4]:
            inner = _read_chunk_records(path, ref)
            for op, s, ln, _ in _walk_records(inner):
                if op == OP_SCHEMA:
                    sid, v = _parse_schema(inner[s : s + ln])
                    schemas.setdefault(sid, v)
                elif op == OP_CHANNEL:
                    cid, v = _parse_channel(inner[s : s + ln])
                    channels.setdefault(cid, v)
            if channels:
                break
    if not channels and (chunks or message_offsets):
        raise ValueError(f"{path}: no Channel records found — corrupt mcap")
    return McapScan(schemas, channels, chunks, message_offsets)


def _decompress(blob: bytes, compression: str, size: int) -> bytes:
    if compression in ("", "none"):
        return blob
    if compression == "lz4":
        from rosbag2parquet_spark.sources.rosbag import _lz4_decompress

        return _lz4_decompress(blob, size)
    if compression == "zstd":
        import pyarrow as pa

        if not size:
            raise ValueError("zstd chunk without a declared uncompressed size")
        return pa.Codec("zstd").decompress(blob, decompressed_size=size, asbytes=True)
    raise ValueError(f"unsupported mcap chunk compression {compression!r}")


class McapCrcError(ValueError):
    """Chunk uncompressed_crc mismatch. Carries the decompressed bytes so
    a permissive reader can salvage whatever records still parse."""

    def __init__(self, msg: str, data: bytes):
        super().__init__(msg)
        self.data = data


def _read_chunk_records(path: str, ref: McapChunkRef) -> bytes:
    """Read + decompress one chunk's records, validating the chunk header's
    ``uncompressed_crc`` when the writer set it (the reference wished for
    exactly this integrity check, rosbag2parquet.cpp:28 TODO #5; the MCAP
    spec carries the field so a corrupted object-store read trips here
    instead of decoding garbage). The CRC sits in the chunk payload prefix
    at a fixed distance before records_off — one extra 4-byte ranged read,
    no header re-parse. A zero CRC (spec: optional) skips validation."""
    crc_pos = ref.records_off - 16 - len(ref.compression.encode())
    with open(path, "rb") as f:
        f.seek(crc_pos)
        (want_crc,) = struct.unpack("<I", f.read(4))
        f.seek(ref.records_off)
        blob = f.read(ref.records_size)
    if len(blob) != ref.records_size:
        raise ValueError(f"{path}@{ref.records_off}: truncated chunk records")
    out = _decompress(blob, ref.compression, ref.size)
    if ref.size and len(out) != ref.size:
        raise ValueError(
            f"chunk decompressed to {len(out)} bytes, header said {ref.size}"
        )
    if want_crc and zlib.crc32(out) != want_crc:
        raise McapCrcError(
            f"{path}@{ref.records_off}: chunk uncompressed_crc mismatch "
            f"(want 0x{want_crc:08x}, got 0x{zlib.crc32(out):08x}) — "
            "corrupted chunk",
            out,
        )
    return out


@lru_cache(maxsize=64)
def _point_index_uncached(path: str, _mtime_ns: int, _size: int):
    """Parse the summary ONCE per file into a bisectable chunk-time index:
    ChunkIndex payloads sorted by start time, plus the running max of end
    times (interval-stabbing over possibly-overlapping chunk spans).
    Repeated point reads then skip the footer/summary I/O entirely and
    find candidate chunks in O(log #chunks) instead of scanning every
    ChunkIndex record per call."""
    size = _size
    with open(path, "rb") as f:
        f.seek(size - 8 - _FOOTER_RECORD_LEN)
        tail = f.read(_FOOTER_RECORD_LEN)
        if len(tail) != _FOOTER_RECORD_LEN or tail[0] != OP_FOOTER:
            raise ValueError(f"{path}: no footer record — cannot point-read")
        (summary_start,) = struct.unpack_from("<Q", tail, 9)
        if not summary_start:
            raise ValueError(
                f"{path}: no summary section — point reads need the index"
            )
        f.seek(summary_start)
        buf = f.read(size - 8 - _FOOTER_RECORD_LEN - summary_start)
    entries = []  # (t0, t1, payload)
    for op, st, ln, _ in _walk_records(buf):
        if op != OP_CHUNK_INDEX:
            continue
        payload = buf[st : st + ln]
        t0, t1 = struct.unpack_from("<QQ", payload, 0)
        entries.append((t0, t1, payload))
    entries.sort(key=lambda e: e[0])
    starts = [e[0] for e in entries]
    prefix_max_end = []
    m = -1
    for _, t1, _ in entries:
        m = max(m, t1)
        prefix_max_end.append(m)
    return starts, prefix_max_end, entries


def point_read(
    path: str, channel_id: int, log_time: int
) -> "bytes | None":
    """O(log n) point lookup of one message's payload via the summary
    indexes — the low-latency read path the index section exists for (the
    reference's test point-reads rows by position,
    rosbag2parquet_test.cpp:97-110; this is the container-native
    equivalent):

    footer → summary (cached per file, read once) → bisect the sorted
    ChunkIndex time bounds for chunks covering ``log_time`` whose
    message_index_offsets carry ``channel_id`` → ONE ranged read of that
    channel's MessageIndex record → the (log_time → records-offset) entry
    → one chunk decompress (or, for uncompressed chunks, a final ranged
    read of just the message record). Per-lookup I/O after the first:
    one MessageIndex + one chunk/message — independent of file size AND
    of chunk count.

    Returns None when no indexed message matches exactly; raises on files
    without a summary (point reads need the index — scan instead)."""
    import bisect

    st_ = os.stat(path)
    starts, prefix_max_end, entries = _point_index_uncached(
        path, st_.st_mtime_ns, st_.st_size
    )
    with open(path, "rb") as f:
        # interval stabbing: candidates end at bisect(start <= t); walk
        # left only while some earlier interval can still reach t
        i = bisect.bisect_right(starts, log_time) - 1
        while i >= 0 and prefix_max_end[i] >= log_time:
            t0, t1, payload = entries[i]
            i -= 1
            if not (t0 <= log_time <= t1):
                continue
            (mio_len,) = struct.unpack_from("<I", payload, 32)
            mi_off = None
            for k in range(mio_len // 10):
                cid, off = struct.unpack_from("<HQ", payload, 36 + 10 * k)
                if cid == channel_id:
                    mi_off = off
                    break
            if mi_off is None:
                continue
            ref, _extent = _parse_chunk_index(payload)
            # one ranged read of the channel's MessageIndex record
            f.seek(mi_off)
            head = f.read(9)
            if head[0] != OP_MESSAGE_INDEX:
                raise ValueError(f"{path}@{mi_off}: expected MessageIndex")
            (mlen,) = struct.unpack("<Q", head[1:])
            mi = f.read(mlen)
            (mcid,) = struct.unpack_from("<H", mi, 0)
            (plen,) = struct.unpack_from("<I", mi, 2)
            rec_off = None
            for k in range(plen // 16):
                t, off = struct.unpack_from("<QQ", mi, 6 + 16 * k)
                if t == log_time:
                    rec_off = off
                    break
            if rec_off is None:
                continue
            if ref.compression in ("", "none"):
                # uncompressed: the records stream IS file bytes — read
                # just the one message record
                f.seek(ref.records_off + rec_off)
                mh = f.read(9)
                (mln,) = struct.unpack("<Q", mh[1:])
                body = f.read(mln)
                cid2, t2, payload2 = _parse_message(body, 0, mln)
            else:
                inner = _read_chunk_records(path, ref)
                mh_op = inner[rec_off]
                (mln,) = struct.unpack_from("<Q", inner, rec_off + 1)
                cid2, t2, payload2 = _parse_message(
                    inner, rec_off + 9, mln
                )
            if cid2 == channel_id and t2 == log_time:
                return payload2
    return None


def _parse_message(buf: bytes, s: int, ln: int):
    (cid,) = struct.unpack_from("<H", buf, s)
    (log_time,) = struct.unpack_from("<Q", buf, s + 6)
    return cid, log_time, buf[s + 22 : s + ln]


def mcap_connection_rows(path: str) -> list[tuple]:
    """7-column Connections rows with senc-aware ``msg_def``: ros1msg/
    ros2msg schemas carry their definition text verbatim (the schema
    compiler parses both), ``protobuf`` schemas carry the base64-marked
    FileDescriptorSet the protobuf decode tier dispatches on, and any
    other encoding (ros2idl, jsonschema, ...) gets an EMPTY msg_def so
    the converter blob-preserves that type (Messages/Connections + raw
    data, no flatten) — the reference's own array posture (columnarize
    what you can, keep the blob). ``open_container`` serves them to the
    single-bag and the fleet converter alike."""
    from rosbag2parquet_spark.sources.protobuf import msgdef_from_fds, parse_fds

    scan = scan_mcap(path)
    rows = []
    for cid in sorted(scan.channels):
        sid, topic, _menc = scan.channels[cid]
        name, senc, data = scan.schemas.get(sid, ("", "", b""))
        if senc == "protobuf" and data:
            # only mark decodable if the payload really parses as a
            # FileDescriptorSet — a recorder that mislabels text (or a
            # corrupted schema record) falls back to blob-preserve
            # instead of blowing up mid-convert
            try:
                parse_fds(data)
            except ValueError:
                rows.append((cid, topic, name, "", "", "", ""))
                continue
            rows.append((cid, topic, name, "", msgdef_from_fds(data), "", ""))
        elif senc == "jsonschema" and data:
            # decodable only if the document stays inside the supported
            # subset — anything else (arrays of objects, $ref) falls back
            # to blob-preserve, same posture as an unparseable descriptor
            from rosbag2parquet_spark.sources.jsonschema import (
                JSON_DEF_PREFIX,
                spark_schema_from_jsonschema,
            )

            try:
                spark_schema_from_jsonschema(data.decode())
            except (ValueError, UnicodeDecodeError):
                rows.append((cid, topic, name, "", "", "", ""))
                continue
            rows.append(
                (cid, topic, name, "", JSON_DEF_PREFIX + data.decode(),
                 "", "")
            )
        elif senc in ("ros1msg", "ros2msg", ""):
            rows.append((cid, topic, name, "", data.decode(), "", ""))
        else:
            rows.append((cid, topic, name, "", "", "", ""))
    return rows


def _parse_attachment(buf: bytes, s: int, ln: int, path: str) -> tuple:
    """Attachment payload → (log_time, create_time, name, media_type, data);
    validates the record CRC when the writer set it."""
    log_time, create_time = struct.unpack_from("<QQ", buf, s)
    name, pos = _str_at(buf, s + 16)
    media_type, pos = _str_at(buf, pos)
    (data_size,) = struct.unpack_from("<Q", buf, pos)
    pos += 8
    data = buf[pos : pos + data_size]
    if len(data) != data_size:
        raise ValueError(f"{path}: truncated attachment {name!r}")
    (crc,) = struct.unpack_from("<I", buf, pos + data_size)
    if crc and zlib.crc32(buf[s : pos + data_size]) != crc:
        raise ValueError(f"{path}: attachment {name!r} crc mismatch")
    return log_time, create_time, name, media_type, data


def _read_summary_buf(path: str, f, size: int) -> "bytes | None":
    """Magic check + footer parse + summary-section read — the shared
    prefix of every summary-driven reader (scan planning, attachments,
    metadata). Returns the raw summary bytes, or None for an unindexed
    file (zeroed footer) so the caller falls back to its walk."""
    if f.read(8) != MCAP_MAGIC:
        raise ValueError(f"{path}: not an MCAP file")
    f.seek(size - 8 - _FOOTER_RECORD_LEN)
    tail = f.read(_FOOTER_RECORD_LEN)
    if len(tail) != _FOOTER_RECORD_LEN or tail[0] != OP_FOOTER:
        return None
    (summary_start,) = struct.unpack_from("<Q", tail, 9)
    if not summary_start:
        return None
    f.seek(summary_start)
    return f.read(size - 8 - _FOOTER_RECORD_LEN - summary_start)


def _walk_top_level(f, size: int, want_op: int):
    """Yield (payload, length) for every top-level record of ``want_op``
    — the unindexed fallback shared by the attachment/metadata readers."""
    pos = 8
    while pos + 9 <= size - 8:
        f.seek(pos)
        head = f.read(9)
        if len(head) < 9:
            break
        op = head[0]
        (ln,) = struct.unpack("<Q", head[1:])
        if op == want_op:
            yield f.read(ln), ln
        pos += 9 + ln


def mcap_attachments(path: str) -> "list[tuple]":
    """Side-car files embedded in the bag (calibration YAML, camera
    intrinsics, URDF — the MCAP spec's Attachment records, which rosbag
    has no analog for): (log_time, create_time, name, media_type, data)
    tuples. Indexed files resolve via the summary's AttachmentIndex with
    one ranged read per attachment; unindexed files — AND indexed files
    whose summary omits the (optional) AttachmentIndex group — fall back
    to the top-level walk, so attachments are never silently dropped.
    Record CRCs validate when nonzero."""
    size = os.path.getsize(path)
    out: list[tuple] = []
    with open(path, "rb") as f:
        buf = _read_summary_buf(path, f, size)
        if buf is not None:
            saw_index = False
            for op, st, ln, _ in _walk_records(buf):
                if op != OP_ATTACHMENT_INDEX:
                    continue
                saw_index = True
                off, rec_len = struct.unpack_from("<QQ", buf, st)
                f.seek(off)
                rec = f.read(9 + rec_len)
                if rec[0] != OP_ATTACHMENT:
                    raise ValueError(
                        f"{path}@{off}: AttachmentIndex points at op "
                        f"0x{rec[0]:02x}, not an Attachment"
                    )
                (pln,) = struct.unpack_from("<Q", rec, 1)
                out.append(_parse_attachment(rec, 9, pln, path))
            if saw_index:
                return out
        for payload, ln in _walk_top_level(f, size, OP_ATTACHMENT):
            out.append(_parse_attachment(payload, 0, ln, path))
    return out


def mcap_attachment_stats(path: str) -> "list[tuple[str, str, int]]":
    """(name, media_type, data_size) per attachment WITHOUT reading any
    payload bytes when the file is indexed — the AttachmentIndex record
    already carries data_size, so listing a bag with hundreds of MB of
    side-cars costs a few bytes per attachment (`info` uses this)."""
    size = os.path.getsize(path)
    out: list[tuple[str, str, int]] = []
    with open(path, "rb") as f:
        buf = _read_summary_buf(path, f, size)
        if buf is not None:
            saw_index = False
            for op, st, _ln, _ in _walk_records(buf):
                if op != OP_ATTACHMENT_INDEX:
                    continue
                saw_index = True
                (dsz,) = struct.unpack_from("<Q", buf, st + 32)
                name, pos = _str_at(buf, st + 40)
                media, _pos = _str_at(buf, pos)
                out.append((name, media, dsz))
            if saw_index:
                return out
    return [
        (n, m, len(d)) for _lt, _ct, n, m, d in mcap_attachments(path)
    ]


def _parse_metadata_rec(buf: bytes, s: int, path: str) -> "tuple[str, dict]":
    """Metadata payload → (name, {key: value})."""
    name, pos = _str_at(buf, s)
    (map_len,) = struct.unpack_from("<I", buf, pos)
    pos += 4
    end = pos + map_len
    kv: dict = {}
    while pos < end:
        k, pos = _str_at(buf, pos)
        v, pos = _str_at(buf, pos)
        kv[k] = v
    return name, kv


def mcap_metadata(path: str) -> "list[tuple[str, dict]]":
    """Named key-value maps embedded in the bag (recorder version, vehicle
    id — the spec's Metadata records): (name, {key: value}) tuples.
    Indexed files resolve via the summary's MetadataIndex with one ranged
    read each; unindexed files — and indexed files whose summary omits the
    optional MetadataIndex group — fall back to the top-level walk."""
    size = os.path.getsize(path)
    out: list = []
    with open(path, "rb") as f:
        buf = _read_summary_buf(path, f, size)
        if buf is not None:
            saw_index = False
            for op, st, ln, _ in _walk_records(buf):
                if op != OP_METADATA_INDEX:
                    continue
                saw_index = True
                off, rec_len = struct.unpack_from("<QQ", buf, st)
                f.seek(off)
                rec = f.read(9 + rec_len)
                if rec[0] != OP_METADATA:
                    raise ValueError(
                        f"{path}@{off}: MetadataIndex points at op "
                        f"0x{rec[0]:02x}, not a Metadata record"
                    )
                out.append(_parse_metadata_rec(rec, 9, path))
            if saw_index:
                return out
        for payload, _ln in _walk_top_level(f, size, OP_METADATA):
            out.append(_parse_metadata_rec(payload, 0, path))
    return out


def mcap_serialization(path: str) -> str:
    """'cdr' | 'ros1' — from the msg-def-DECODABLE channels'
    message_encoding (one per file; mixed decodable encodings are refused,
    the per-type decode can't dispatch). ``protobuf`` channels dispatch to
    their own decode tier via the msg_def marker (protobuf.py) and
    ``ros2idl`` channels are blob-preserved, ``jsonschema`` channels
    dispatch to the JSON tier (jsonschema.py) — so
    none of them constrains the file's ros serialization — a protobuf-only Foxglove recording converts
    with typed tables, an idl-only one blob-preserves, and neither is
    refused outright."""
    scan = scan_mcap(path)
    decodable = set()
    for _cid, (sid, _topic, menc) in scan.channels.items():
        _name, senc, data = scan.schemas.get(sid, ("", "", b""))
        if senc in ("ros1msg", "ros2msg", "") and data:
            decodable.add(menc)
    mapped = {"cdr": "cdr", "ros1": "ros1"}
    bad = decodable - set(mapped)
    if bad:
        raise ValueError(f"{path}: unsupported message encodings {sorted(bad)}")
    if len(decodable) > 1:
        raise ValueError(
            f"{path}: mixed message encodings {sorted(decodable)}"
        )
    return mapped[decodable.pop()] if decodable else "cdr"


def _walk_records_salvage(buf: bytes):
    """Defensive record walk for permissive reads of a CRC-failed chunk:
    yields records until the first malformed header instead of raising —
    whatever still parses is salvaged (corrupt payloads then dead-letter
    per row at decode)."""
    pos = 0
    n = len(buf)
    while pos + 9 <= n:
        op = buf[pos]
        (ln,) = struct.unpack_from("<Q", buf, pos + 1)
        start = pos + 9
        if start + ln > n:
            return
        yield op, start, ln, pos
        pos = start + ln


# --------------------------------------------------------------- container


def open_container(
    path: str, msgdefs: "dict[str, str] | None" = None, start: "int | None" = None
) -> Container:
    """Units from the memoized plan (`scan_mcap`): one per chunk — ChunkIndex
    or chunk-header time bounds, MessageIndex channel set, count unknown —
    or, for unchunked files, counted spans of top-level Message records.
    ``start`` is the resume cursor, dropping earlier units at plan time: a
    chunk index for chunked files (an appender extends the chunk list and
    rewrites only the summary), a byte offset for unchunked ones (earlier
    Message records keep their positions). ``msgdefs`` is unused: MCAP
    embeds its schemas."""
    scan = scan_mcap(path)
    if scan.chunks:
        shift = offset_shift([c.size or c.records_size for c in scan.chunks])
        units = [
            Unit((i, c.records_off, c.records_size, c.compression, c.size, shift),
                 c.size or c.records_size, -1, c.start_time, c.end_time,
                 c.channels)
            for i, c in enumerate(scan.chunks)
            if start is None or i >= start
        ]
        max_offset, label = (len(scan.chunks) << shift) - 1, "chunk {0}"
    else:
        offs = scan.message_offsets
        units = record_spans(
            offs[bisect.bisect_left(offs, start or 0):], offs[-1] + 1 if offs else 0
        )
        max_offset, label = (offs[-1] if offs else 0), "records at bytes {0}-{1}"
    return Container(
        path, "mcap", mcap_serialization(path),
        [ConnRow(*r) for r in mcap_connection_rows(path)],
        max_offset, units, label=label, index="record walk",
    )


def _message_time(path: str, offset: int) -> "int | None":
    """log_time of the top-level Message record at ``offset`` (u8 opcode,
    u64 length, u16 channel, u32 sequence, u64 log_time), or None when no
    whole Message record starts there."""
    size = os.path.getsize(path)
    if offset + 23 > size:
        return None
    with open(path, "rb") as f:
        f.seek(offset)
        head = f.read(23)
    (rec_len,) = struct.unpack_from("<Q", head, 1)
    if head[0] != OP_MESSAGE or rec_len < 22 or offset + 9 + rec_len > size:
        return None
    return struct.unpack_from("<Q", head, 15)[0]


def _chunk_identity(*values) -> dict:
    keys = ("records_off", "records_size", "start_time", "end_time")
    return dict(zip(keys, values))


def cursor(bag: Container) -> dict:
    """A chunked file's cursor is the converted chunk-prefix length plus
    the last planned chunk's identity (synthetic message offsets can
    re-encode as the file grows, closed chunks never move), with the last
    message's offset and time read from the last planned chunk that holds
    one; an unchunked file (``n_chunks`` 0) keeps the byte-offset
    cursor."""
    if not bag.units or len(bag.units[0].key) == 2:
        return {**record_cursor(bag, _message_time), "n_chunks": 0}
    last = bag.units[-1]
    cur = {
        "n_chunks": last.key[0] + 1,
        "last_chunk": _chunk_identity(
            last.key[1], last.key[2], last.start_ns, last.end_ns
        ),
    }
    for u in reversed(bag.units):
        batches = list(read_units(bag.path, [u.key], on_error="permissive"))
        if batches:
            off = batches[-1]["offset"][-1].as_py()
            t = batches[-1]["time_ns"][-1].as_py()
            return {"next_offset": off + 1, "last_offset": off,
                    "last_time_ns": t, **cur}
    return cur


def resume_start(path: str, state: dict) -> int:
    n_prev = int(state.get("n_chunks", 0))
    if not n_prev:
        return record_start(path, state, _message_time)
    chunks = scan_mcap(path).chunks
    if len(chunks) < n_prev:
        raise ValueError(
            f"{path}: {len(chunks)} chunks, layout converted {n_prev} — "
            "the bag shrank (re-recorded); re-convert"
        )
    c = chunks[n_prev - 1]
    got = _chunk_identity(c.records_off, c.records_size, c.start_time, c.end_time)
    if got != state["last_chunk"]:
        raise ValueError(
            f"{path}: chunk {n_prev - 1} identity changed "
            f"({state['last_chunk']} -> {got}) — the bag was re-recorded, "
            "not grown; re-convert from scratch"
        )
    return n_prev


def sidecar_rows(path: str, payloads: bool = True) -> "tuple[list, list]":
    """The file's side-car records as layout rows: Attachments (name,
    media_type, log_time, create_time, data), and Metadata (name, key,
    value) one row per key — an empty-map record keeps a (name, None,
    None) row so the record itself survives. ``payloads=False`` lists the
    attachments as (name, media_type, byte size) instead, from the
    AttachmentIndex when the file has one — no payload bytes read."""
    if payloads:
        att = [
            (n, m, lt, ct, bytes(d)) for lt, ct, n, m, d in mcap_attachments(path)
        ]
    else:
        att = mcap_attachment_stats(path)
    md = [
        (name, k, v)
        for name, kv in mcap_metadata(path)
        for k, v in (list(kv.items()) or [(None, None)])
    ]
    return att, md


def read_units(path: str, keys: list, start_ns=None, end_ns=None,
               conn_ids=None, on_error="fail"):
    """One Arrow batch per chunk or record span; the split reader
    (`container.read_split`) applies the filters. A chunk key is (index, records_off, records_size,
    compression, size, shift) and a span key (lo, hi). ``on_error='permissive'``
    salvages a CRC-failed chunk: whatever records still parse are kept
    (corrupt payloads then dead-letter per row at decode)."""
    for key in keys:
        rows = []
        if len(key) == 2:
            lo, hi = key
            with open(path, "rb") as f:
                pos = lo
                while pos < hi:
                    f.seek(pos)
                    head = f.read(9)
                    if len(head) < 9:
                        raise ValueError(f"{path}: truncated record header at {pos}")
                    (ln,) = struct.unpack("<Q", head[1:])
                    if head[0] == OP_MESSAGE:
                        cid, t, data = _parse_message(f.read(ln), 0, ln)
                        rows.append((pos, t, cid, data))
                    pos += 9 + ln
        else:
            idx, off, size_c, comp, size_u, shift = key
            walk = _walk_records
            try:
                inner = _read_chunk_records(
                    path, McapChunkRef(off, size_c, comp, size_u)
                )
            except McapCrcError as e:
                if on_error != "permissive":
                    raise
                inner, walk = e.data, _walk_records_salvage
            if len(inner) > (1 << shift):
                raise ValueError(
                    f"{path}: chunk {idx} larger than its declared size "
                    f"implies (shift {shift})"
                )
            for op, s, ln, rpos in walk(inner):
                if op == OP_MESSAGE:
                    cid, t, data = _parse_message(inner, s, ln)
                    rows.append(((idx << shift) | rpos, t, cid, data))
        if rows:
            yield message_batch(*zip(*rows))


# ---------------------------------------------------------------- writer


def write_mcap(
    path: str,
    connections: list[ConnectionInfo],
    messages: list[tuple[int, int, bytes]],  # (conn_id, time_ns, payload)
    *,
    encoding: str = "cdr",
    schema_encoding: str = "ros2msg",
    chunked: bool = True,
    compression: str = "",
    chunk_messages: int = 1000,
    indexed: bool = True,
    crcs: bool = False,
    attachments: "list[tuple] | None" = None,
    metadata: "list[tuple] | None" = None,  # (name, {key: value})
) -> None:
    """Minimal spec-conformant MCAP writer (tests + fixtures): Header,
    Schema+Channel per connection, messages (optionally chunked with
    ""/lz4/zstd), DataEnd, then — for chunked files with ``indexed=True``
    (the spec-recommended shape) — a summary section of repeated
    Schema+Channel plus one ChunkIndex per chunk, and a Footer pointing at
    it (``summary_start``), enabling the reader's O(index) planning path.
    ``indexed=False`` writes the dim repeat inline and a zeroed footer —
    the legacy/unindexed shape that exercises the full-walk fallback."""

    def rec(op: int, payload: bytes) -> bytes:
        return bytes([op]) + struct.pack("<Q", len(payload)) + payload

    def s(v: str) -> bytes:
        b = v.encode()
        return struct.pack("<I", len(b)) + b

    def schema_rec(sid: int, c: ConnectionInfo) -> bytes:
        # MCAP schema encoding is PER Schema record: a connection whose
        # msg_def carries the protobuf descriptor marker writes the raw
        # FileDescriptorSet under encoding 'protobuf' (round-trip of a
        # protobuf-decoded layout), everything else writes the definition
        # text under the caller-declared encoding
        from rosbag2parquet_spark.sources.protobuf import (
            PROTOBUF_DEF_PREFIX,
            fds_from_msgdef,
        )

        from rosbag2parquet_spark.sources.jsonschema import JSON_DEF_PREFIX

        if c.msg_def.startswith(PROTOBUF_DEF_PREFIX):
            data, senc = fds_from_msgdef(c.msg_def), "protobuf"
        elif c.msg_def.startswith(JSON_DEF_PREFIX):
            data = c.msg_def[len(JSON_DEF_PREFIX):].encode()
            senc = "jsonschema"
        else:
            data, senc = c.msg_def.encode(), schema_encoding
        return rec(
            OP_SCHEMA,
            struct.pack("<H", sid) + s(c.datatype) + s(senc)
            + struct.pack("<I", len(data)) + data,
        )

    def channel_rec(sid: int, c: ConnectionInfo) -> bytes:
        from rosbag2parquet_spark.sources.protobuf import PROTOBUF_DEF_PREFIX

        from rosbag2parquet_spark.sources.jsonschema import JSON_DEF_PREFIX

        if c.msg_def.startswith(PROTOBUF_DEF_PREFIX):
            menc = "protobuf"
        elif c.msg_def.startswith(JSON_DEF_PREFIX):
            menc = "json"
        else:
            menc = encoding
        return rec(
            OP_CHANNEL,
            struct.pack("<HH", c.conn_id, sid) + s(c.topic) + s(menc)
            + struct.pack("<I", 0),
        )

    def message_rec(conn_id: int, t: int, payload: bytes) -> bytes:
        return rec(
            OP_MESSAGE,
            struct.pack("<HIQQ", conn_id, 0, t, t) + payload,
        )

    dim = b""
    for i, c in enumerate(connections):
        dim += schema_rec(i + 1, c) + channel_rec(i + 1, c)

    out = bytearray()
    out += MCAP_MAGIC
    out += rec(OP_HEADER, s("") + s("rosbag2parquet_spark"))
    out += dim
    chunk_index_recs: list[bytes] = []
    if chunked:
        for i in range(0, len(messages), chunk_messages):
            recs = bytearray()
            mi: dict[int, list] = {}  # channel -> [(log_time, rec offset)]
            for cid_m, t_m, p_m in messages[i : i + chunk_messages]:
                mi.setdefault(cid_m, []).append((t_m, len(recs)))
                recs += message_rec(cid_m, t_m, p_m)
            records = bytes(recs)
            if compression in ("", "none"):
                blob, comp = records, ""
            elif compression == "lz4":
                from rosbag2parquet_spark.sources.rosbag import _lz4_compress

                blob, comp = _lz4_compress(records), "lz4"
            elif compression == "zstd":
                import pyarrow as pa

                blob, comp = pa.Codec("zstd").compress(records, asbytes=True), "zstd"
            else:
                raise ValueError(f"unsupported compression {compression!r}")
            times = [t for _, t, _ in messages[i : i + chunk_messages]]
            payload = (
                struct.pack("<QQQ", min(times), max(times), len(records))
                + struct.pack("<I", zlib.crc32(records) if crcs else 0)
                + s(comp)
                + struct.pack("<Q", len(blob))
                + blob
            )
            chunk_start = len(out)
            out += rec(OP_CHUNK, payload)
            chunk_len = len(out) - chunk_start
            # MessageIndex records follow their chunk (spec): one per
            # channel, (log_time, offset-in-records) pairs; the ChunkIndex
            # maps channel -> the record's file offset, which is also the
            # reader's per-topic chunk-membership statistic
            mi_start = len(out)
            mio_entries = b""
            for cid_m in sorted(mi):
                pairs = b"".join(
                    struct.pack("<QQ", t_m, off) for t_m, off in mi[cid_m]
                )
                mio_entries += struct.pack("<HQ", cid_m, len(out))
                out += rec(
                    OP_MESSAGE_INDEX,
                    struct.pack("<H", cid_m)
                    + struct.pack("<I", len(pairs))
                    + pairs,
                )
            chunk_index_recs.append(
                rec(
                    OP_CHUNK_INDEX,
                    struct.pack(
                        "<QQQQ", min(times), max(times), chunk_start,
                        chunk_len,
                    )
                    + struct.pack("<I", len(mio_entries))
                    + mio_entries
                    + struct.pack("<Q", len(out) - mi_start)
                    + s(comp)
                    + struct.pack("<QQ", len(blob), len(records)),
                )
            )
    else:
        for cid, t, p in messages:
            out += message_rec(cid, t, p)

    # attachments: (log_time, create_time, name, media_type, data) — in
    # the data section after the chunks; indexed files also get one
    # AttachmentIndex record per attachment in the summary
    attachment_index_recs: list[bytes] = []
    for log_t, create_t, aname, media, adata in attachments or []:
        payload = (
            struct.pack("<QQ", log_t, create_t)
            + s(aname)
            + s(media)
            + struct.pack("<Q", len(adata))
            + adata
        )
        payload += struct.pack(
            "<I", zlib.crc32(payload) if crcs else 0
        )
        att_off = len(out)
        out += rec(OP_ATTACHMENT, payload)
        attachment_index_recs.append(
            rec(
                OP_ATTACHMENT_INDEX,
                # length = full record (header + payload), per spec
                struct.pack("<QQQQQ", att_off, 9 + len(payload), log_t,
                            create_t, len(adata))
                + s(aname)
                + s(media),
            )
        )

    metadata_index_recs: list[bytes] = []
    for mname, kv in metadata or []:
        entries = b"".join(s(k) + s(v) for k, v in kv.items())
        payload = s(mname) + struct.pack("<I", len(entries)) + entries
        md_off = len(out)
        out += rec(OP_METADATA, payload)
        metadata_index_recs.append(
            rec(
                OP_METADATA_INDEX,
                struct.pack("<QQ", md_off, 9 + len(payload)) + s(mname),
            )
        )

    if chunked and indexed and chunk_index_recs:
        out += rec(OP_DATA_END, struct.pack("<I", 0))
        summary_start = len(out)
        out += dim  # summary repeats the dim
        out += b"".join(chunk_index_recs)
        out += b"".join(attachment_index_recs)
        out += b"".join(metadata_index_recs)
        # summary_crc covers summary_start .. the footer's
        # summary_offset_start field inclusive (spec)
        footer_head = (
            bytes([OP_FOOTER])
            + struct.pack("<Q", 20)
            + struct.pack("<QQ", summary_start, 0)
        )
        summary_crc = (
            zlib.crc32(bytes(out[summary_start:]) + footer_head)
            if crcs
            else 0
        )
        out += footer_head + struct.pack("<I", summary_crc)
    else:
        out += dim  # inline summary repeat, no footer pointer (unindexed)
        out += rec(OP_DATA_END, struct.pack("<I", 0))
        out += rec(OP_FOOTER, struct.pack("<QQI", 0, 0, 0))
    out += MCAP_MAGIC
    with open(path, "wb") as f:
        f.write(bytes(out))
