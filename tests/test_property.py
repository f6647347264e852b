"""Property-based tests (hypothesis): msgdef compiler invariants over random
message definitions, and sketch-aggregate sanity bounds."""

import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rosbag2parquet_spark.sources.msgdef import (
    BUILTIN_TYPES,
    parse_msgdef,
    to_struct_type,
)
from rosbag2parquet_spark.sources.catalog import load_table
from tests.conftest import SF_DIR

_name = st.text(string.ascii_lowercase, min_size=1, max_size=8)
_builtin = st.sampled_from(sorted(BUILTIN_TYPES))


@st.composite
def _msgdef(draw):
    n = draw(st.integers(1, 8))
    fields = []
    names = draw(
        st.lists(_name, min_size=n, max_size=n, unique=True)
    )
    for fname in names:
        kind = draw(st.sampled_from(["scalar", "time", "array", "const"]))
        ftype = draw(_builtin)
        fields.append((fname, ftype, kind))
    lines = []
    for fname, ftype, kind in fields:
        if kind == "scalar":
            lines.append(f"{ftype} {fname}")
        elif kind == "time":
            lines.append(f"time {fname}")
        elif kind == "array":
            lines.append(f"{ftype}[] {fname}")
        else:
            lines.append(f"int32 {fname.upper()}=42")
    return "\n".join(lines), fields


@given(_msgdef())
@settings(max_examples=200, deadline=None)
def test_msgdef_schema_invariants(case):
    """For any definition: constants never appear; time fields appear as
    exactly the _sec/_nsec pair; arrays skipped in parity mode but present
    in native mode; scalars map through the promotion table."""
    text, fields = case
    specs = parse_msgdef("test/Msg", text)
    skip = to_struct_type("test/Msg", specs, arrays="skip")
    native = to_struct_type("test/Msg", specs, arrays="native")
    skip_names = [f.name for f in skip.fields]
    native_types = {f.name: f.dataType for f in native.fields}

    for fname, ftype, kind in fields:
        if kind == "const":
            assert fname.upper() not in skip_names
        elif kind == "time":
            assert f"{fname}_sec" in skip_names and f"{fname}_nsec" in skip_names
        elif kind == "array":
            assert fname not in skip_names  # parity: arrays not columnarized
            if ftype in ("uint8", "byte", "char"):
                assert native_types[fname] == T.BinaryType()  # byte buffer
            else:
                assert native_types[fname] == T.ArrayType(BUILTIN_TYPES[ftype])
        else:
            assert fname in skip_names
            idx = skip_names.index(fname)
            assert skip.fields[idx].dataType == BUILTIN_TYPES[ftype]


@pytest.mark.slow
def test_approx_aggregates_within_bounds(spark):
    """Sketch estimates must land near the exact answers (HLL rsd=2% →
    allow 10%; percentile_approx with high accuracy → within the value
    range and close to exact)."""
    li = load_table(spark, SF_DIR, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("apx"),
        F.countDistinct("l_partkey").alias("exact"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50a"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50e"),
    ).collect()[0]
    assert abs(row.apx - row.exact) / row.exact < 0.10
    assert abs(row.p50a - row.p50e) / row.p50e < 0.05


# ------------------------------------------------- decoder fuzz round-trip

_DEC_SCALARS = {
    "bool": ("<?", lambda d: d.booleans()),
    "int8": ("<b", lambda d: d.integers(-128, 127)),
    "uint8": ("<B", lambda d: d.integers(0, 255)),
    "int16": ("<h", lambda d: d.integers(-(2**15), 2**15 - 1)),
    "uint16": ("<H", lambda d: d.integers(0, 2**16 - 1)),
    "int32": ("<i", lambda d: d.integers(-(2**31), 2**31 - 1)),
    "int64": ("<q", lambda d: d.integers(-(2**63), 2**63 - 1)),
    "float32": ("<f", lambda d: d.floats(allow_nan=False, allow_infinity=False, width=32)),
    "float64": ("<d", lambda d: d.floats(allow_nan=False, allow_infinity=False)),
}


@st.composite
def _decodable_case(draw):
    """Random message spec (scalars + time + strings + fixed/var arrays of
    fixed-size elements) with random serialized rows — every shape the
    offset-scan tier claims to support."""
    import struct as _s

    n_fields = draw(st.integers(1, 6))
    fnames = draw(
        st.lists(_name, min_size=n_fields, max_size=n_fields, unique=True)
    )
    kinds = [
        draw(
            st.sampled_from(
                ["scalar", "time", "string", "fixed_arr", "var_arr", "blob"]
            )
        )
        for _ in range(n_fields)
    ]
    types = [draw(st.sampled_from(sorted(_DEC_SCALARS))) for _ in range(n_fields)]

    lines, expected_cols = [], []
    for fname, kind, ftype in zip(fnames, kinds, types):
        if kind == "scalar":
            lines.append(f"{ftype} {fname}")
            expected_cols.append(fname)
        elif kind == "time":
            lines.append(f"time {fname}")
            expected_cols.extend([f"{fname}_sec", f"{fname}_nsec"])
        elif kind == "string":
            lines.append(f"string {fname}")
            expected_cols.append(fname)
        elif kind == "fixed_arr":
            ln = draw(st.integers(0, 4))
            lines.append(f"{ftype}[{ln}] {fname}")
        elif kind == "var_arr":
            lines.append(f"{ftype}[] {fname}")
        else:  # blob — uint8[] skipped in parity mode
            lines.append(f"uint8[] {fname}")
    msgdef = "\n".join(lines)

    n_rows = draw(st.integers(1, 5))
    rows, payloads = [], []
    for _ in range(n_rows):
        out, buf = [], b""
        for fname, kind, ftype in zip(fnames, kinds, types):
            fmt, gen = _DEC_SCALARS[ftype]
            if kind == "scalar":
                v = draw(gen(st))
                buf += _s.pack(fmt, v)
                out.append(_s.unpack(fmt, _s.pack(fmt, v))[0])
            elif kind == "time":
                sec, nsec = draw(st.integers(0, 2**31 - 1)), draw(st.integers(0, 10**9))
                buf += _s.pack("<II", sec, nsec)
                out.extend([sec, nsec])
            elif kind == "string":
                sv = draw(st.text(string.ascii_letters, max_size=12))
                b = sv.encode()
                buf += _s.pack("<I", len(b)) + b
                out.append(sv)
            elif kind == "fixed_arr":
                ln = int(lines[fnames.index(fname)].split("[")[1].split("]")[0])
                for _i in range(ln):
                    buf += _s.pack(fmt, draw(gen(st)))
            elif kind == "var_arr":
                ln = draw(st.integers(0, 4))
                buf += _s.pack("<I", ln)
                for _i in range(ln):
                    buf += _s.pack(fmt, draw(gen(st)))
            else:
                blob = draw(st.binary(max_size=16))
                buf += _s.pack("<I", len(blob)) + blob
        rows.append(tuple(out))
        payloads.append(buf)
    return msgdef, expected_cols, rows, payloads


@settings(max_examples=60, deadline=None)
@given(case=_decodable_case())
def test_decoder_tiers_agree_on_random_messages(case):
    """Fuzz: per-row struct.unpack walk == vectorized offset-scan (or
    fixed-stride frombuffer when applicable) on random specs/payloads,
    and both equal the independently-constructed expected values."""
    import math

    from rosbag2parquet_spark.sources.decode import (
        fixed_layout,
        make_decoder,
        make_vector_decoder,
        variable_layout,
    )

    msgdef, expected_cols, rows, payloads = case
    specs = parse_msgdef("fuzz/T", msgdef)

    def eq(a, b):
        if isinstance(a, float) and isinstance(b, float):
            return (math.isnan(a) and math.isnan(b)) or a == b
        return a == b

    row_decode = make_decoder("fuzz/T", specs)
    decoded = [row_decode(p) for p in payloads]
    for got, exp in zip(decoded, rows):
        assert len(got) == len(exp)
        assert all(eq(g, e) for g, e in zip(got, exp))

    ops = variable_layout("fuzz/T", specs)
    assert ops is not None, "all generated shapes are offset-scannable"
    cols = make_vector_decoder(ops)(payloads)
    assert list(cols) == expected_cols
    for j, cname in enumerate(expected_cols):
        col = cols[cname]
        for i, exp_row in enumerate(rows):
            assert eq(col[i], exp_row[j]), f"{cname}[{i}]"

    layout = fixed_layout("fuzz/T", specs)
    if layout is not None:
        # fixed-stride applies only when no strings/var-arrays — sanity
        assert all(k not in msgdef for k in ("string", "[]"))


@given(_decodable_case())
@settings(max_examples=60, deadline=None)
def test_native_array_tiers_agree(case):
    """Fuzz arrays='native': the per-row walk and the vectorized offset-scan
    are independent implementations — they must produce identical columns
    (arrays included) on random specs/payloads."""
    import math

    from rosbag2parquet_spark.sources.decode import (
        make_decoder,
        make_vector_decoder,
        variable_layout,
    )

    msgdef, _, _, payloads = case
    specs = parse_msgdef("fuzz/T", msgdef)
    names = [f.name for f in to_struct_type("fuzz/T", specs, arrays="native").fields]

    row_decode = make_decoder("fuzz/T", specs, arrays="native")
    decoded = [row_decode(p) for p in payloads]

    ops = variable_layout("fuzz/T", specs, arrays="native")
    assert ops is not None
    cols = make_vector_decoder(ops)(payloads)
    assert list(cols) == names

    def eq(a, b):
        if isinstance(a, float) and isinstance(b, float):
            return (math.isnan(a) and math.isnan(b)) or a == b
        return a == b

    for j, cname in enumerate(names):
        col = cols[cname]
        for i, rowvals in enumerate(decoded):
            got, exp = col[i], rowvals[j]
            if hasattr(got, "tolist"):
                got = got.tolist()
            if isinstance(exp, (list, tuple)) or isinstance(got, list):
                assert len(got) == len(exp), f"{cname}[{i}]"
                assert all(eq(g, e) for g, e in zip(got, exp)), f"{cname}[{i}]"
            else:
                assert eq(got, exp), f"{cname}[{i}]"


_CDR_SIZES = {
    "bool": 1, "int8": 1, "uint8": 1, "int16": 2, "uint16": 2,
    "int32": 4, "int64": 8, "float32": 4, "float64": 8,
}


@st.composite
def _cdr_case(draw):
    """Random CDR message spec + validly-aligned serialized rows — every
    shape the CDR offset-scan tier claims to support (scalars, time,
    strings, fixed/var arrays of fixed-size elements, uint8[] blobs),
    with the XCDR1 alignment the decoders must reproduce per row."""
    import struct as _s

    n_fields = draw(st.integers(1, 6))
    fnames = draw(
        st.lists(_name, min_size=n_fields, max_size=n_fields, unique=True)
    )
    kinds = [
        draw(
            st.sampled_from(
                ["scalar", "time", "string", "fixed_arr", "var_arr", "blob"]
            )
        )
        for _ in range(n_fields)
    ]
    types = [draw(st.sampled_from(sorted(_CDR_SIZES))) for _ in range(n_fields)]
    fixed_lens = [draw(st.integers(0, 4)) for _ in range(n_fields)]

    lines = []
    for fname, kind, ftype, fl in zip(fnames, kinds, types, fixed_lens):
        if kind == "scalar":
            lines.append(f"{ftype} {fname}")
        elif kind == "time":
            lines.append(f"time {fname}")
        elif kind == "string":
            lines.append(f"string {fname}")
        elif kind == "fixed_arr":
            lines.append(f"{ftype}[{fl}] {fname}")
        elif kind == "var_arr":
            lines.append(f"{ftype}[] {fname}")
        else:
            lines.append(f"uint8[] {fname}")
    msgdef = "\n".join(lines)

    def align(buf, size):
        rel = len(buf) - 4
        buf.extend(b"\x00" * ((-rel) % min(size, 8)))

    n_rows = draw(st.integers(1, 5))
    payloads = []
    for _ in range(n_rows):
        buf = bytearray(b"\x00\x01\x00\x00")
        for fname, kind, ftype, fl in zip(fnames, kinds, types, fixed_lens):
            fmt = _DEC_SCALARS[ftype][0]
            gen = _DEC_SCALARS[ftype][1]
            sz = _CDR_SIZES[ftype]
            if kind == "scalar":
                align(buf, sz)
                buf.extend(_s.pack(fmt, draw(gen(st))))
            elif kind == "time":
                align(buf, 4)
                buf.extend(
                    _s.pack(
                        "<iI",
                        draw(st.integers(0, 2**31 - 1)),
                        draw(st.integers(0, 10**9)),
                    )
                )
            elif kind == "string":
                sv = draw(st.text(string.ascii_letters, max_size=9)).encode()
                align(buf, 4)
                buf.extend(_s.pack("<I", len(sv) + 1) + sv + b"\x00")
            elif kind == "fixed_arr":
                if fl:
                    align(buf, sz)
                    for _i in range(fl):
                        buf.extend(_s.pack(fmt, draw(gen(st))))
            elif kind == "var_arr":
                ln = draw(st.integers(0, 4))
                align(buf, 4)
                buf.extend(_s.pack("<I", ln))
                if ln:
                    align(buf, sz)
                    for _i in range(ln):
                        buf.extend(_s.pack(fmt, draw(gen(st))))
            else:
                blob = draw(st.binary(max_size=12))
                align(buf, 4)
                buf.extend(_s.pack("<I", len(blob)) + blob)
        payloads.append(bytes(buf))
    mode = draw(st.sampled_from(["skip", "blobs", "native"]))
    return msgdef, payloads, mode


@settings(max_examples=60, deadline=None)
@given(case=_cdr_case())
def test_cdr_tiers_agree_on_random_messages(case):
    """Fuzz: the per-row CDR walk and the alignment-aware vectorized
    offset-scan must agree bit-for-bit on random specs/payloads in every
    arrays mode — the dynamic per-row padding is exactly the part a
    deterministic test can miss."""
    import math

    import numpy as np

    from rosbag2parquet_spark.sources.decode import (
        make_decoder,
        make_vector_decoder,
        variable_layout,
    )

    msgdef, payloads, mode = case
    specs = parse_msgdef("fuzz/T", msgdef)
    flat = to_struct_type("fuzz/T", specs, arrays=mode)
    names = [f.name for f in flat.fields]
    row_dec = make_decoder("fuzz/T", specs, arrays=mode, serialization="cdr")
    ops = variable_layout("fuzz/T", specs, arrays=mode, serialization="cdr")
    assert ops is not None, "strategy only emits scan-supported shapes"
    vec = make_vector_decoder(ops, serialization="cdr")(payloads)
    rows = [row_dec(p) for p in payloads]

    def eq(a, b):
        if isinstance(a, (list, np.ndarray)) or isinstance(b, (list, np.ndarray)):
            a, b = list(a), list(b)
            return len(a) == len(b) and all(eq(x, y) for x, y in zip(a, b))
        if isinstance(a, bytes) or isinstance(b, bytes):
            return bytes(a) == bytes(b)
        if isinstance(a, float) and isinstance(b, float):
            return (math.isnan(a) and math.isnan(b)) or a == b
        return bool(a == b)

    assert set(vec) == set(names)
    for i, name in enumerate(names):
        col = list(vec[name])
        for r in range(len(payloads)):
            assert eq(col[r], rows[r][i]), (name, r, col[r], rows[r][i])


# ------------------------------------------------------ MCAP container fuzz


@st.composite
def _mcap_case(draw):
    n = draw(st.integers(min_value=1, max_value=60))
    chunked = draw(st.booleans())
    chunk_messages = draw(st.integers(min_value=1, max_value=17))
    compression = draw(st.sampled_from(["", "lz4", "zstd"])) if chunked else ""
    indexed = draw(st.booleans()) if chunked else False
    crcs = draw(st.booleans())
    payloads = draw(
        st.lists(
            st.binary(min_size=0, max_size=64), min_size=n, max_size=n
        )
    )
    conns = draw(
        st.lists(st.sampled_from([1, 2, 3]), min_size=n, max_size=n)
    )
    return dict(
        chunked=chunked, chunk_messages=chunk_messages,
        compression=compression, indexed=indexed, crcs=crcs,
        payloads=payloads, conns=conns,
    )


@settings(max_examples=40, deadline=None)
@given(case=_mcap_case())
def test_mcap_container_roundtrip_fuzz(case, tmp_path_factory):
    """Any message mix × chunking × codec × index × CRC the writer can emit,
    the scan-side reader must reproduce byte-for-byte in bag order — the
    container layer fuzzed independently of Spark (the chunk walk, index
    planning, CRC validation, and offset assignment are all pure
    Python)."""
    import os as _os

    from rosbag2parquet_spark.sources.baglike import ConnectionInfo
    from rosbag2parquet_spark.sources.mcap import (
        OP_MESSAGE,
        _read_chunk_records,
        _scan_mcap_uncached,
        _parse_message,
        _walk_records,
        scan_mcap,
        write_mcap,
    )

    d = tmp_path_factory.mktemp("mcap_fuzz")
    path = str(d / "f.mcap")
    t0 = 1_700_000_000_000_000_000
    msgs = [
        (cid, t0 + i * 1000, p)
        for i, (cid, p) in enumerate(zip(case["conns"], case["payloads"]))
    ]
    conns = [
        ConnectionInfo(c, f"/t{c}", f"demo/T{c}", "", "uint8 x\n")
        for c in sorted(set(case["conns"]))
    ]
    write_mcap(
        path, conns, msgs, chunked=case["chunked"],
        compression=case["compression"],
        chunk_messages=case["chunk_messages"], indexed=case["indexed"],
        crcs=case["crcs"],
    )
    _scan_mcap_uncached.cache_clear()
    scan = scan_mcap(path)
    got = []
    if scan.chunks:
        for ref in scan.chunks:
            inner = _read_chunk_records(path, ref)
            for op, s, ln, _ in _walk_records(inner):
                if op == OP_MESSAGE:
                    got.append(_parse_message(inner, s, ln))
    else:
        with open(path, "rb") as f:
            raw = f.read()
        for off in scan.message_offsets:
            (ln,) = __import__("struct").unpack_from("<Q", raw, off + 1)
            got.append(_parse_message(raw, off + 9, ln))
    assert [(c, t, bytes(p)) for c, t, p in got] == msgs
    _os.remove(path)


# ---------------------------------------------------- rosbag container fuzz


@st.composite
def _rosbag_case(draw):
    n = draw(st.integers(min_value=1, max_value=50))
    compression = draw(st.sampled_from(["none", "bz2", "lz4"]))
    per_chunk = draw(st.integers(min_value=1, max_value=13))
    payloads = draw(
        st.lists(st.binary(min_size=0, max_size=48), min_size=n, max_size=n)
    )
    conns = draw(st.lists(st.sampled_from([1, 2, 3]), min_size=n, max_size=n))
    return dict(
        compression=compression, per_chunk=per_chunk,
        payloads=payloads, conns=conns,
    )


@settings(max_examples=30, deadline=None)
@given(case=_rosbag_case())
def test_rosbag_container_roundtrip_fuzz(case, tmp_path_factory):
    """Any message mix × chunking × codec the rosbag 2.0 writer can emit,
    the chunk walk must reproduce byte-for-byte in bag order — fuzzed at
    the container layer, no Spark."""
    import os as _os

    from rosbag2parquet_spark.sources.baglike import ConnectionInfo
    from rosbag2parquet_spark.sources.container import offset_shift
    from rosbag2parquet_spark.sources.rosbag import (
        iter_chunk_messages,
        scan_rosbag,
        write_rosbag,
    )

    d = tmp_path_factory.mktemp("rosbag_fuzz")
    path = str(d / "f.bag")
    t0 = 1_700_000_000_000_000_000
    msgs = [
        (cid, t0 + i * 1000, p)
        for i, (cid, p) in enumerate(zip(case["conns"], case["payloads"]))
    ]
    conns = [
        ConnectionInfo(c, f"/t{c}", f"demo/T{c}", "", "uint8 x\n")
        for c in sorted(set(case["conns"]))
    ]
    write_rosbag(path, conns, msgs, compression=case["compression"],
                 messages_per_chunk=case["per_chunk"])
    _, chunks = scan_rosbag(path)
    shift = offset_shift([c.size for c in chunks])
    got = []
    for i, c in enumerate(chunks):
        for off, t, cid, blob in iter_chunk_messages(
            path, i, c.pos, c.compression, shift
        ):
            got.append((cid, t, bytes(blob)))
    assert got == msgs
    _os.remove(path)
