"""Schema-driven payload decoder for both wire formats the bag sources
carry — ROS 1 (packed little-endian: rosbag 1.x, MCAP ``ros1`` channels)
and CDR (OMG XCDR1 little-endian: rosbag2 .db3, MCAP ``cdr`` channels) —
the reference's ``handleMessage``/``handleBuiltin`` walk
(MessageTable.cpp:40-225): the type tree (compiled from message-definition
text by :mod:`rosbag2parquet_spark.sources.msgdef`) and the byte buffer
advance in lockstep; scalars promote per the §1.3 table; time decomposes to
sec/nsec; constants were already elided at schema time; arrays are skipped
positionally in parity mode (bytes remain only in the raw blob — reference
MessageTable.cpp:62-97), with the uint8[] string-style shortcut (63-67).

The two formats differ only in the rules of the :data:`WIRE` table —
payload origin, alignment, string NUL, trailing bytes, ``byte``
signedness — which every tier reads; the flattened schema
(``to_struct_type``) is the same for both.

Execution: the decoder runs inside ``mapInArrow`` — Arrow-batched Python.
This is the one hot path where Python is genuinely warranted: a custom
binary codec with per-message control flow that no built-in expression can
express. Batches stream; memory is bounded per task; the decode parallelizes
with the scan partitions of the bag DataSource. (A production build would
move exactly this function to a JVM/C++ kernel — the surrounding plan would
not change.)
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from rosbag2parquet_spark.sources.msgdef import (
    TIME_TYPES,
    MsgSpec,
    _resolve,
    parse_msgdef,
    to_struct_type,
)

#: (wire size, struct code, numpy dtype) per primitive. uint32/uint64 are
#: reinterpreted as SIGNED raw bits — the reference's documented signedness
#: relaxation (rosbag2parquet.cpp:36, stored as INT32/INT64 physical).
#: Reading them unsigned here would overflow the IntegerType/LongType schema
#: for values past the signed max (a decode hard-failure where the reference
#: degrades) — ADVICE r1. ``unsigned='exact'`` swaps in ``_EXACT``.
_SCALARS = {
    "bool": (1, "?", "?"),
    "int8": (1, "b", "i1"),
    "uint8": (1, "B", "u1"),
    "byte": (1, "b", "i1"),
    "char": (1, "B", "u1"),
    "int16": (2, "h", "<i2"),
    "uint16": (2, "H", "<u2"),
    "int32": (4, "i", "<i4"),
    "uint32": (4, "i", "<i4"),
    "int64": (8, "q", "<i8"),
    "uint64": (8, "q", "<i8"),
    "float32": (4, "f", "<f4"),
    "float64": (8, "d", "<f8"),
}
# exact mode reads uint32/uint64 unsigned for scalars AND array elements;
# the shared schema carries LONG / DECIMAL(20,0) (msgdef r8)
_EXACT = {"uint32": (4, "I", "<u4"), "uint64": (8, "Q", "<u8")}
_BYTE_TYPES = ("uint8", "byte", "char")


@dataclass(frozen=True)
class Wire:
    """The rules that tell one payload serialization from the other. Every
    decode tier, and the converter's header-stamp prefix read, take them
    from :data:`WIRE` — nowhere else encodes them."""

    #: payload byte where the first field starts; alignment is relative
    #: to it (CDR: after the 4-byte encapsulation header)
    origin: int
    #: a primitive of ``size`` bytes aligns to ``min(size, max_align)``;
    #: 1 = packed. Length prefixes align as 4-byte primitives, array
    #: elements only when the count is above 0
    max_align: int
    #: string length prefixes count this many trailing NUL bytes, which
    #: decoding strips
    string_nul: int
    #: pad bytes tolerated after the last field
    max_trailing: int
    #: ``byte`` is uint8 (CDR octet) rather than int8 (ROS 1)
    byte_unsigned: bool
    #: accepted encapsulation ids at payload byte 1 (little-endian ones);
    #: empty when the payload carries no encapsulation header
    le_ids: tuple = ()

    def align(self, size: int) -> int:
        return min(size, self.max_align)

    def pad(self, pos: int, size: int) -> int:
        """``pos`` advanced to the alignment of a ``size``-byte primitive."""
        return pos + (self.origin - pos) % self.align(size)

    def scalars(self, unsigned: str = "signed") -> dict:
        """{primitive: (wire size, struct code, numpy dtype)}."""
        out = dict(_SCALARS)
        if self.byte_unsigned:
            out["byte"] = _SCALARS["uint8"]
        if unsigned == "exact":
            out.update(_EXACT)
        return out


WIRE = {
    "ros1": Wire(
        origin=0, max_align=1, string_nul=0, max_trailing=0,
        byte_unsigned=False,
    ),
    "cdr": Wire(
        origin=4, max_align=8, string_nul=1, max_trailing=7,
        byte_unsigned=True, le_ids=(0x01, 0x03),
    ),
}


def _not_le(detail: str) -> ValueError:
    return ValueError(f"not a little-endian CDR payload (encapsulation {detail})")


def _check_le_batch(wire: Wire, data, starts, lens) -> None:
    """Vectorized encapsulation gate of the batch tiers (the per-row walk
    checks each payload itself): a big-endian or malformed payload must
    raise, never decode to garbage through the little-endian views."""
    import numpy as np

    if not len(starts):
        return
    if int(lens.min()) < wire.origin:
        raise _not_le(f"header cut short: {int(lens.min())} bytes")
    enc = data[starts + 1]
    bad = ~np.isin(enc, wire.le_ids)
    if bad.any():
        i = int(np.flatnonzero(bad)[0])
        raise _not_le(f"byte 0x{int(enc[i]):02x} in batch row {i}")


def decimal_col_names(flat) -> "tuple[list[str], list[str]]":
    """(scalar, array) column names typed DECIMAL in a flattened schema —
    the exact-mode uint64 columns whose pandas cells must become plain
    Python ints before Arrow accepts them against a decimal type."""
    dec = [
        f.name for f in flat.fields if isinstance(f.dataType, T.DecimalType)
    ]
    dec_arr = [
        f.name
        for f in flat.fields
        if isinstance(f.dataType, T.ArrayType)
        and isinstance(f.dataType.elementType, T.DecimalType)
    ]
    return dec, dec_arr


def decimalize_cols(
    cols: dict, dec_names: "list[str]", dec_arr_names: "list[str]"
) -> None:
    """Convert exact-mode uint64 decode outputs IN PLACE to the Python
    ints Arrow takes against DECIMAL(20,0): scalar cells to int, array
    cells via numpy ``tolist()`` (ONE C call per cell — u64→int is exact;
    the per-row tier's plain-int lists pass through untouched)."""
    for n in dec_names:
        v = cols[n]
        vals = v.tolist() if hasattr(v, "tolist") else list(v)
        cols[n] = pd.Series(
            [None if x is None else int(x) for x in vals], dtype=object
        )
    for n in dec_arr_names:
        cols[n] = pd.Series(
            [
                None
                if x is None
                else (
                    x.tolist()
                    if hasattr(x, "tolist")
                    else [int(e) for e in x]
                )
                for x in list(cols[n])
            ],
            dtype=object,
        )


def make_decoder(
    root_type: str,
    specs: dict[str, MsgSpec],
    arrays: str = "skip",
    unsigned: str = "signed",
    serialization: str = "ros1",
):
    """Compile a decode function(bytes) → tuple of flattened values, walking
    the same tree ``to_struct_type`` walks so positions match the schema.
    ``arrays='blobs'`` extracts uint8-family arrays as bytes values (the
    multimodal-column mode); ``arrays='native'`` also returns scalar and
    string arrays as lists; every other array is skipped positionally.
    ``unsigned='exact'`` reads uint32/uint64 unsigned (schema promotes to
    LONG / DECIMAL(20,0))."""
    wire = WIRE[serialization]
    # the one branch the packed ROS 1 walk pays per field is `if cdr`
    cdr = wire.max_align > 1
    origin, nul = wire.origin, wire.string_nul
    scalar = {
        t: ("<" + code, sz, wire.align(sz))
        for t, (sz, code, _) in wire.scalars(unsigned).items()
    }
    unpack_from = struct.unpack_from
    native = arrays == "native"
    blobs = arrays in ("blobs", "native")

    def decode_into(spec: MsgSpec, buf: bytes, pos: int, out: list) -> int:
        pkg = spec.full_name.split("/")[0] if "/" in spec.full_name else ""
        for f in spec.fields:
            t = f.type_name
            if f.is_array:
                if f.array_len is None:
                    if cdr:
                        pos += (origin - pos) % 4
                    (n,) = unpack_from("<I", buf, pos)
                    pos += 4
                else:
                    n = f.array_len
                if t in _BYTE_TYPES:
                    # uint8[] consumed like a string (MessageTable.cpp:63-67)
                    if blobs:
                        out.append(buf[pos : pos + n])
                    pos += n
                elif native and t in scalar:
                    fmt, sz, a = scalar[t]
                    if cdr and n:
                        pos += (origin - pos) % a
                    out.append(
                        list(unpack_from(f"<{n}{fmt[1]}", buf, pos))
                        if n
                        else []
                    )
                    pos += n * sz
                elif native and t == "string":
                    vals = []
                    for _ in range(n):
                        if cdr:
                            pos += (origin - pos) % 4
                        (ln,) = unpack_from("<I", buf, pos)
                        vals.append(buf[pos + 4 : pos + 4 + ln - nul].decode())
                        pos += 4 + ln
                    out.append(vals)
                else:
                    # time/struct element arrays: the schema skips them
                    pos = skip_array(t, n, buf, pos, pkg)
                continue
            if t in TIME_TYPES:
                # signed reinterpretation past 2038-01-19 (same INT32
                # storage as reference MessageTable.cpp:284-292)
                if cdr:
                    pos += (origin - pos) % 4
                out.extend(unpack_from("<ii", buf, pos))
                pos += 8
            elif t == "string":
                if cdr:
                    pos += (origin - pos) % 4
                (n,) = unpack_from("<I", buf, pos)
                out.append(buf[pos + 4 : pos + 4 + n - nul].decode())
                pos += 4 + n
            elif t in scalar:
                fmt, sz, a = scalar[t]
                if cdr:
                    pos += (origin - pos) % a
                out.append(unpack_from(fmt, buf, pos)[0])
                pos += sz
            else:
                sub = _resolve(t, pkg, specs)
                if sub is None:
                    raise KeyError(f"unresolved {t} in {spec.full_name}")
                pos = decode_into(sub, buf, pos, out)
        return pos

    def skip_array(t: str, n: int, buf: bytes, pos: int, pkg: str) -> int:
        if t in scalar:
            _, sz, a = scalar[t]
            if cdr and n:
                pos += (origin - pos) % a
            return pos + n * sz
        if t in TIME_TYPES:
            if cdr and n:
                pos += (origin - pos) % 4
            return pos + 8 * n
        if t == "string":
            for _ in range(n):
                if cdr:
                    pos += (origin - pos) % 4
                (ln,) = unpack_from("<I", buf, pos)
                pos += 4 + ln
            return pos
        sub = _resolve(t, pkg, specs)
        if sub is None:
            raise KeyError(f"unresolved array element type {t}")
        sink: list = []
        for _ in range(n):
            pos = decode_into(sub, buf, pos, sink)
        return pos

    root = specs[root_type]
    le_ids, max_trailing = wire.le_ids, wire.max_trailing

    def decode(buf: bytes) -> tuple:
        if le_ids and (len(buf) < origin or buf[1] not in le_ids):
            raise _not_le(repr(bytes(buf[:origin])))
        out: list = []
        end = decode_into(root, buf, origin, out)
        # the reference asserts full consumption (MessageTable.cpp:38): an
        # overrunning string/sequence length yields short slices in Python
        # — caught here
        if not 0 <= len(buf) - end <= max_trailing:
            raise ValueError(
                f"buffer not fully consumed: walked to {end} of {len(buf)} "
                f"bytes for {root_type}"
            )
        return tuple(out)

    return decode


def fixed_layout(
    root_type: str,
    specs: dict[str, MsgSpec],
    arrays: str = "skip",
    unsigned: str = "signed",
    serialization: str = "ros1",
):
    """If every message of this type has a FIXED byte length (no strings, no
    variable-length arrays, no extracted blobs), return a numpy structured
    dtype with EXPLICIT offsets — relative to the payload origin, aligned
    per the wire — whose itemsize is the payload size past the origin, so
    one ``np.frombuffer`` decodes a whole batch; else None. Skipped arrays
    leave gaps; ``arrays='native'`` keeps fixed-length scalar arrays as
    subarray fields. Field names are the walker's ORIGINAL names, in the
    order of ``to_struct_type``."""
    import numpy as np

    wire = WIRE[serialization]
    scalars = wire.scalars(unsigned)
    names: list[str] = []
    formats: list = []
    offsets: list[int] = []
    pos = wire.origin

    def add(name: str, fmt) -> None:
        names.append(name)
        formats.append(fmt)
        offsets.append(pos - wire.origin)

    def walk(spec: MsgSpec, prefix: str, emit: bool) -> bool:
        nonlocal pos
        pkg = spec.full_name.split("/")[0] if "/" in spec.full_name else ""
        for f in spec.fields:
            t = f.type_name
            if t == "string" or (f.is_array and f.array_len is None):
                return False  # variable size → offset-scan/per-row tiers
            name = f"{prefix}{f.name}"
            if f.is_array:
                n = f.array_len
                if emit and t in _BYTE_TYPES and arrays != "skip":
                    return False  # bytes values → the offset-scan tier
                if t in scalars:
                    sz, _, dt = scalars[t]
                    if n:
                        pos = wire.pad(pos, sz)
                    if emit and arrays == "native":
                        add(name, (dt, (n,)))
                    pos += n * sz
                elif t in TIME_TYPES:
                    if n:
                        pos = wire.pad(pos, 4)
                    pos += 8 * n
                else:
                    sub = _resolve(t, pkg, specs)
                    if sub is None:
                        return False
                    for _ in range(n):
                        if not walk(sub, "", False):
                            return False
                continue
            if t in TIME_TYPES:
                pos = wire.pad(pos, 4)
                if emit:
                    add(f"{name}_sec", "<i4")
                    pos += 4
                    add(f"{name}_nsec", "<i4")
                    pos += 4
                else:
                    pos += 8
            elif t in scalars:
                sz, _, dt = scalars[t]
                pos = wire.pad(pos, sz)
                if emit:
                    add(name, dt)
                pos += sz
            else:
                sub = _resolve(t, pkg, specs)
                if sub is None or not walk(sub, f"{name}_", emit):
                    return False
        return True

    if not walk(specs[root_type], "", True):
        return None
    return np.dtype(
        {
            "names": names,
            "formats": formats,
            "offsets": offsets,
            "itemsize": pos - wire.origin,
        }
    )


def make_fixed_decoder(layout, serialization: str = "ros1"):
    """Batch decoder over a :func:`fixed_layout` dtype: one
    ``np.frombuffer`` over the joined batch, zero per-row Python. Every
    payload of a batch must share one length — the layout plus at most the
    wire's trailing pad — which sets the stride."""
    import numpy as np

    wire = WIRE[serialization]

    def decode_batch(bufs) -> dict:
        n = len(bufs)
        buf = b"".join(bufs)
        stride = len(buf) // n
        lens = np.fromiter(map(len, bufs), dtype=np.int64, count=n)
        if (lens != stride).any() or not (
            0 <= stride - wire.origin - layout.itemsize <= wire.max_trailing
        ):
            raise ValueError(
                f"fixed-stride mismatch: payloads of "
                f"{sorted(set(lens.tolist()))[:4]} bytes for "
                f"{layout.itemsize}B records"
            )
        if wire.le_ids:
            _check_le_batch(
                wire, np.frombuffer(buf, dtype=np.uint8),
                np.arange(n, dtype=np.int64) * stride, lens,
            )
        if not layout.names:
            return {}
        dt = np.dtype(
            {
                "names": layout.names,
                "formats": [layout.fields[k][0] for k in layout.names],
                "offsets": [
                    layout.fields[k][1] + wire.origin for k in layout.names
                ],
                "itemsize": stride,
            }
        )
        arr = np.frombuffer(buf, dtype=dt)
        return {
            k: list(arr[k]) if arr[k].ndim > 1 else arr[k] for k in dt.names
        }

    return decode_batch


def _element_stride(
    spec: MsgSpec, specs: dict[str, MsgSpec], wire: Wire
) -> "tuple[int, int] | None":
    """(size, alignment) of one array element of message type ``spec``
    when every element is laid out identically wherever it starts: only
    fixed-size fields, the first primitive carrying the largest alignment
    (a struct itself is not aligned on the wire — its first field is) and a
    size that is a multiple of it. Else None (→ per-row)."""
    pos = 0
    aligns: list[int] = []

    def walk(spec: MsgSpec) -> bool:
        nonlocal pos
        pkg = spec.full_name.split("/")[0] if "/" in spec.full_name else ""
        for f in spec.fields:
            t = f.type_name
            if t == "string" or (f.is_array and f.array_len is None):
                return False
            n = f.array_len if f.is_array else 1
            if t in _SCALARS:
                sz = _SCALARS[t][0]
            elif t in TIME_TYPES:
                sz = 4  # two int32
                n *= 2
            else:
                sub = _resolve(t, pkg, specs)
                if sub is None:
                    return False
                for _ in range(n):
                    if not walk(sub):
                        return False
                continue
            if n:
                a = wire.align(sz)
                pos += (-pos) % a
                aligns.append(a)
                pos += n * sz
        return True

    if not walk(spec):
        return None
    a = max(aligns, default=1)
    if (aligns and aligns[0] != a) or pos % a:
        return None
    return pos, a


def variable_layout(
    root_type: str,
    specs: dict[str, MsgSpec],
    arrays: str = "skip",
    unsigned: str = "signed",
    serialization: str = "ros1",
):
    """Compile the op list for the VECTORIZED variable-stride decoder: the
    per-batch offset-scan that replaces per-row ``struct.unpack`` walks (the
    reference names introspection CPU as its bottleneck, README.md:131-133).

    Supported: fixed scalars, time/duration, strings, fixed arrays of
    fixed-size elements, variable arrays of fixed-size elements (incl. the
    uint8[] blob shortcut), nested fixed-or-variable structs of the same.
    Returns None (→ per-row fallback) for arrays of strings or of
    variable-size messages — rare shapes where the offset scan degenerates
    to a row loop anyway.

    Ops (``a`` = the element alignment under the wire, 1 for ROS 1):
    ("fixed", name, np_dtype, size, a) | ("time", name) | ("string", name)
    | ("arr_fixed", name, np_dtype, unit, count, a)
    | ("arr_var", name, np_dtype, unit, a) | ("blob_fixed", name, count)
    | ("blob_var", name) | ("skip_fixed", nbytes, a) | ("skip_var", unit, a).
    """
    wire = WIRE[serialization]
    scalars = wire.scalars(unsigned)
    ops: list[tuple] = []

    def push_skip(nbytes: int, a: int) -> None:
        if a == 1 and ops and ops[-1][0] == "skip_fixed":
            ops[-1] = ("skip_fixed", ops[-1][1] + nbytes, ops[-1][2])
        else:
            ops.append(("skip_fixed", nbytes, a))

    def walk(spec: MsgSpec, prefix: str) -> bool:
        pkg = spec.full_name.split("/")[0] if "/" in spec.full_name else ""
        for f in spec.fields:
            name = f"{prefix}{f.name}"
            t = f.type_name
            if f.is_array:
                n = f.array_len
                if arrays in ("blobs", "native") and t in _BYTE_TYPES:
                    ops.append(
                        ("blob_var", name) if n is None
                        else ("blob_fixed", name, n)
                    )
                    continue
                if t == "string":
                    return False  # string arrays → per-row fallback
                if arrays == "native" and t in scalars:
                    sz, _, dt = scalars[t]
                    a = wire.align(sz)
                    ops.append(
                        ("arr_var", name, dt, sz, a) if n is None
                        else ("arr_fixed", name, dt, sz, n, a)
                    )
                    continue
                if t in scalars:
                    unit = scalars[t][0]
                    a = wire.align(unit)
                elif t in TIME_TYPES:
                    unit, a = 8, wire.align(4)
                else:
                    sub = _resolve(t, pkg, specs)
                    el = _element_stride(sub, specs, wire) if sub else None
                    if el is None:
                        return False  # variable-size elements → fallback
                    unit, a = el
                if n is None:
                    ops.append(("skip_var", unit, a))
                elif n:
                    push_skip(unit * n, a)
                continue
            if t == "string":
                ops.append(("string", name))
            elif t in TIME_TYPES:
                ops.append(("time", name))
            elif t in scalars:
                sz, _, dt = scalars[t]
                ops.append(("fixed", name, dt, sz, wire.align(sz)))
            else:
                sub = _resolve(t, pkg, specs)
                if sub is None or not walk(sub, f"{name}_"):
                    return False
        return True

    return ops if walk(specs[root_type], "") else None


def make_vector_decoder(ops: list[tuple], serialization: str = "ros1"):
    """Batch decoder over the compiled ops: one numpy gather per FIELD
    instead of one struct.unpack per (row, field). A running per-row offset
    vector advances through fixed and variable regions, re-aligned before
    each field relative to the per-row payload origin (a no-op for ROS 1;
    after a variable-length string the CDR padding differs per row, so it
    is computed on the whole vector); only string/blob/array extraction
    (inherently object-typed) touches Python per row."""
    import numpy as np

    wire = WIRE[serialization]
    nul = wire.string_nul
    a4 = wire.align(4)

    def decode_batch(bufs: list[bytes]) -> dict[str, object]:
        n = len(bufs)
        lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n)
        bounds = np.concatenate(([0], np.cumsum(lens)))
        raw = b"".join(bufs)
        data = np.frombuffer(raw, dtype=np.uint8)
        if wire.le_ids:
            _check_le_batch(wire, data, bounds[:-1], lens)
        base = bounds[:-1] + wire.origin  # per-row alignment origin
        off = base.copy()

        def gather(sz: int) -> "np.ndarray":
            # fancy indexing copies → contiguous, safe to view() directly
            return data[off[:, None] + np.arange(sz)]

        def u32() -> "np.ndarray":
            return gather(4).view("<u4").ravel().astype(np.int64)

        cols: dict[str, object] = {}
        for op in ops:
            kind = op[0]
            if kind == "fixed":
                _, name, dt, sz, a = op
                if a > 1:
                    off = off + (base - off) % a
                cols[name] = gather(sz).view(dt).ravel()
                off += sz
            elif kind == "time":
                _, name = op
                if a4 > 1:
                    off = off + (base - off) % a4
                pair = gather(8).view("<i4")
                cols[f"{name}_sec"] = pair[:, 0].copy()
                cols[f"{name}_nsec"] = pair[:, 1].copy()
                off += 8
            elif kind == "string":
                _, name = op
                if a4 > 1:
                    off = off + (base - off) % a4
                spos = off + 4
                ends = spos + u32()
                stop = np.maximum(ends - nul, spos) if nul else ends
                # slice the PYTHON bytes (C-level, no numpy round-trip) —
                # the one per-row loop left, inherent to object output
                cols[name] = [
                    raw[s:e].decode()
                    for s, e in zip(spos.tolist(), stop.tolist())
                ]
                off = ends
            elif kind == "arr_fixed":
                _, name, dt, unit, cnt, a = op
                if cnt:
                    if a > 1:
                        off = off + (base - off) % a
                    # one gather for the whole batch → (n, cnt) matrix → rows
                    mat = gather(unit * cnt).view(dt).reshape(n, cnt)
                    cols[name] = list(mat)
                    off += unit * cnt
                else:
                    cols[name] = [np.empty(0, dtype=dt)] * n
            elif kind == "arr_var":
                _, name, dt, unit, a = op
                if a4 > 1:
                    off = off + (base - off) % a4
                cnt = u32()
                off = off + 4
                if a > 1:
                    off = off + ((base - off) % a) * (cnt > 0)
                ends = off + cnt * unit
                cols[name] = [
                    np.frombuffer(raw[s:e], dtype=dt)
                    for s, e in zip(off.tolist(), ends.tolist())
                ]
                off = ends
            elif kind == "blob_var":
                _, name = op
                if a4 > 1:
                    off = off + (base - off) % a4
                spos = off + 4
                ends = spos + u32()
                cols[name] = [
                    raw[s:e] for s, e in zip(spos.tolist(), ends.tolist())
                ]
                off = ends
            elif kind == "blob_fixed":
                # NB: must not shadow the batch-size `n` (a prior version
                # did, corrupting any later op that used it — fuzz-caught)
                _, name, blen = op
                ends = off + blen
                cols[name] = [
                    raw[s:e] for s, e in zip(off.tolist(), ends.tolist())
                ]
                off = ends
            elif kind == "skip_fixed":
                _, nbytes, a = op
                if a > 1:
                    off = off + (base - off) % a
                off = off + nbytes
            elif kind == "skip_var":
                _, unit, a = op
                if a4 > 1:
                    off = off + (base - off) % a4
                cnt = u32()
                off = off + 4
                if a > 1:
                    off = off + ((base - off) % a) * (cnt > 0)
                off = off + cnt * unit
        # the reference asserts full consumption (MessageTable.cpp:38)
        rem = bounds[1:] - off
        bad = (rem < 0) | (rem > wire.max_trailing)
        if bad.any():
            i = int(np.argmax(bad))
            raise ValueError(
                f"buffer not fully consumed at row {i}: walked "
                f"{int(off[i] - bounds[i])} of {int(lens[i])} bytes"
            )
        return cols

    return decode_batch


def decode_columns(
    flat: T.StructType, decode, *, on_error: str, decode_batch=None
) -> "tuple[list[T.StructField], object]":
    """The per-batch body of every payload decode: returns ``(fields,
    run)`` where ``run(payloads) -> {name: column}`` decodes a list of
    payload bytes into the ``fields`` columns. Those columns come from
    ``decode_batch(payloads) -> {field: column}`` (a vectorized tier whose
    columns match ``flat`` by position) or, without one, from
    ``decode(payload) -> tuple`` per row. :func:`map_decode` runs it inside
    ``mapInArrow``; the converter's layout write runs it in-process.

    ``on_error``: ``'fail'`` (reference parity — the C++ asserts and dies,
    MessageTable.cpp:38) raises on the first undecodable payload;
    ``'permissive'`` is the 1000-executor answer — a poisoned batch falls
    back to a per-row salvage, good rows decode normally, bad rows emit
    NULL fields plus a ``_decode_error`` message column (the dead-letter
    pattern: one corrupt message must not kill a 100 TB conversion). The
    fast vectorized tiers still run first — permissive costs nothing on
    clean data."""
    if on_error not in ("fail", "permissive"):
        raise ValueError(f"on_error must be fail|permissive, got {on_error!r}")
    permissive = on_error == "permissive"
    fields = list(flat.fields)
    if permissive:
        # NULLable fields: salvaged bad rows carry NULLs where the strict
        # schema (reference Repetition::REQUIRED) forbids them
        fields = [T.StructField(f.name, f.dataType, True) for f in fields]
        fields.append(T.StructField("_decode_error", T.StringType(), True))
    flat_names = [f.name for f in flat.fields]
    dec_names, dec_arr_names = decimal_col_names(flat)

    def _decode_fast(payloads: list) -> dict:
        if decode_batch is not None:
            # positional remap: the layout walkers emit ORIGINAL field
            # names; flat_names carry the reserved-collision sanitize
            # (msgdef._sanitize_flat_names) in the same walk order
            decoded = decode_batch(payloads)
            assert len(decoded) == len(flat_names)
            return dict(zip(flat_names, decoded.values()))
        decoded = [decode(bytes(b)) for b in payloads]
        return {n: [row[i] for row in decoded] for i, n in enumerate(flat_names)}

    def _decode_salvage(payloads: list) -> dict:
        """Per-row salvage for a poisoned batch: good rows decode, bad rows
        emit NULLs + the error text — row granularity, never batch."""
        per_col: dict = {n: [] for n in flat_names}
        errs = []
        for b in payloads:
            try:
                row = decode(bytes(b))
            except Exception as exc:
                for n in flat_names:
                    per_col[n].append(None)
                errs.append(f"{type(exc).__name__}: {exc}")
            else:
                for i, n in enumerate(flat_names):
                    per_col[n].append(row[i])
                errs.append(None)
        per_col["_decode_error"] = errs
        return per_col

    def run(payloads: list) -> dict:
        if permissive:
            try:
                cols = _decode_fast(payloads)
                cols["_decode_error"] = [None] * len(payloads)
            except Exception:
                cols = _decode_salvage(payloads)
        else:
            cols = _decode_fast(payloads)
        decimalize_cols(cols, dec_names, dec_arr_names)
        return cols

    return fields, run


def map_decode(
    df: DataFrame,
    flat: T.StructType,
    decode,
    *,
    data_col: str,
    keep_cols: tuple[str, ...],
    on_error: str,
    decode_batch=None,
) -> DataFrame:
    """The Arrow-batched ``mapInArrow`` driver every payload grammar (ROS 1,
    CDR, protobuf, JSON) shares: ``keep_cols`` pass through; the decoded
    columns come from :func:`decode_columns` (see it for ``on_error``) and
    become Arrow as the layout write's do (`layout_write.arrow_column`): a
    NaN stays a float value and an int64 stays exact, even in a permissive
    batch whose dead-lettered rows are NULL."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from rosbag2parquet_spark.layout_write import arrow_column

    fields, decode_cols = decode_columns(
        flat, decode, on_error=on_error, decode_batch=decode_batch
    )
    out_schema = T.StructType([df.schema[c] for c in keep_cols] + fields)
    arrow = to_arrow_schema(out_schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cols = decode_cols(batch.column(data_col).to_pylist())
            out = []
            for f in arrow:
                if f.name in keep_cols:
                    col = batch.column(f.name)
                    out.append(col if col.type == f.type else col.cast(f.type))
                else:
                    out.append(arrow_column(cols[f.name], f.type))
            yield pa.RecordBatch.from_arrays(out, schema=arrow)

    # data_col may itself be a keep_col — select it once
    sel = list(keep_cols) + ([data_col] if data_col not in keep_cols else [])
    return df.select(*sel).mapInArrow(run, schema=out_schema)


def ros_tier(
    root_type: str,
    msgdef_text: str,
    arrays: str = "skip",
    unsigned: str = "signed",
    serialization: str = "ros1",
) -> "tuple[T.StructType, object, object]":
    """``(flat, decode, decode_batch)`` of a ROS 1 or CDR type: the schema
    from the msg-def compiler, so decode positions and column names always
    agree; ``decode_batch`` is the fastest vectorized tier that applies.

    Three decode tiers, fastest applicable wins:
      fixed-stride — one ``frombuffer`` per batch (no per-row anything)
      offset-scan  — one numpy gather per field (strings/var arrays)
      per-row      — struct.unpack walk (string arrays & var-struct arrays)
    """
    specs = parse_msgdef(root_type, msgdef_text)
    kw = dict(arrays=arrays, unsigned=unsigned, serialization=serialization)
    flat = to_struct_type(root_type, specs, arrays=arrays, unsigned=unsigned)
    layout = fixed_layout(root_type, specs, **kw)
    if layout is not None:
        batch = make_fixed_decoder(layout, serialization)
    else:
        ops = variable_layout(root_type, specs, **kw)
        batch = (
            make_vector_decoder(ops, serialization) if ops is not None else None
        )
    return flat, make_decoder(root_type, specs, **kw), batch


def payload_tier(
    datatype: str,
    msg_def: str,
    *,
    serialization: str = "ros1",
    arrays: str = "skip",
    unsigned: str = "signed",
) -> "tuple[T.StructType, object, object] | None":
    """The decode tier of one type's connections, picked by its
    ``msg_def`` slot: ``(flat, decode, decode_batch)`` (see
    :func:`decode_columns`), or None when the slot is empty — no decodable
    schema text (e.g. an MCAP ros2idl schema), so the type keeps seqno,
    connection and the raw blob only, and a later pass with real msgdefs
    can flatten from that table alone."""
    from rosbag2parquet_spark.sources.jsonschema import JSON_DEF_PREFIX, json_tier
    from rosbag2parquet_spark.sources.protobuf import (
        PROTOBUF_DEF_PREFIX,
        protobuf_tier,
    )

    if not msg_def.strip():
        return None
    if msg_def.startswith(PROTOBUF_DEF_PREFIX):
        # MCAP schema encoding 'protobuf': the slot carries the marked
        # FileDescriptorSet
        return protobuf_tier(datatype, msg_def, arrays=arrays, unsigned=unsigned)
    if msg_def.startswith(JSON_DEF_PREFIX):
        # MCAP schema encoding 'jsonschema': the slot carries the schema
        return json_tier(msg_def)
    # ros1 / cdr: one decoder, the wire rules picked by the serialization
    return ros_tier(datatype, msg_def, arrays, unsigned, serialization)


def decode_messages(
    df: DataFrame,
    root_type: str,
    msgdef_text: str,
    data_col: str = "data",
    keep_cols: tuple[str, ...] = ("offset", "time_ns", "conn_id"),
    arrays: str = "skip",
    unsigned: str = "signed",
    on_error: str = "fail",
    serialization: str = "ros1",
) -> DataFrame:
    """Bag messages → flattened typed columns: the per-type table body
    (reference MessageTable.cpp:305-343 minus seqno/blob bookkeeping, which
    the converter adds). Arrow-batched through :func:`map_decode` (see
    :func:`decode_columns` for ``on_error``) over the :func:`ros_tier`
    decoders. ``serialization`` is the payload wire format, ``'ros1'`` or
    ``'cdr'`` (:data:`WIRE`)."""
    flat, decode, batch = ros_tier(
        root_type, msgdef_text, arrays, unsigned, serialization
    )
    return map_decode(
        df,
        flat,
        decode,
        data_col=data_col,
        keep_cols=keep_cols,
        on_error=on_error,
        decode_batch=batch,
    )
