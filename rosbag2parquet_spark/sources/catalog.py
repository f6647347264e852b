"""Fixture catalog and the package's one Parquet read path.

The reference's source is a sequential bag scan (rosbag2parquet.cpp:44-47);
our fixture analog is the ``events`` stream table plus the TPC-H-ish star
schema (TESTDATA.md). Every package read of a Parquet table goes through
:func:`read_parquet`, so Catalyst gets predicate pushdown / column pruning
on every downstream query — the two capabilities the reference's output
format exists to enable (reference README.md:8,10).

The reference writes Parquet so that other engines can plan queries from
its footers (reference README.md:8, 14-18); :func:`footer_schema` plans
every read the same way. It reads the footers on the driver and resolves
the schema ``spark.read.parquet`` would infer, so planning a read starts
no Spark job. A file's schema is Spark's footer key when the file carries
one, else the footer's Parquet schema mapped by Spark's
``ParquetToSparkSchemaConverter`` rules under the session's
``inferTimestampNTZ``, ``nanosAsLong``, ``binaryAsString`` and
``int96AsTimestamp`` values. The resolver returns None, and Spark infers
the schema with its own job, when:

- a footer type lies outside the mapped set (boolean, the INT(8/16/32/64)
  annotations, float, double, STRING/ENUM/JSON, binary, DATE, DECIMAL,
  TIMESTAMP, INT96, standard 3-level LIST, MAP and plain groups);
- a file has no readable Parquet footer, an unparseable Spark key or a
  field id;
- the path is partitioned, summarized, globbed, not local, or empty;
- a plain read's files do not all resolve to one schema, or a merge needs
  Spark's own widening rules (decimal precision, ...);
- two field names collide under ``spark.sql.caseSensitive``.

One footer read per file version ((path, inode, size, mtime_ns)) serves
both the schema and :func:`nanos_columns`, and :func:`load_table` memoizes
its DataFrame on the session, the resolved schema and the versions of every
listed file (a read Spark infers is not memoized). No pyarrow import: the
footer's Thrift is decoded here.
"""

from __future__ import annotations

import json
import os
import sys
from functools import lru_cache
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: the footer key Spark writes its schema of the file under (JSON)
SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# ---------------------------------------------------------------- footers


class _Compact:
    """The Thrift compact-protocol reads a Parquet footer needs."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def byte(self) -> int:
        b = self.buf[self.pos]
        self.pos += 1
        return b

    def varint(self) -> int:
        out = shift = 0
        while True:
            b = self.byte()
            out |= (b & 0x7F) << shift
            if b < 0x80:
                return out
            shift += 7

    def int(self, ftype: int) -> int:
        """An i8 (one raw byte) or a zigzag i16/i32/i64."""
        if ftype == 3:
            b = self.byte()
            return b - 256 if b > 127 else b
        if ftype not in (4, 5, 6):
            raise ValueError(f"thrift type {ftype} is not an integer")
        v = self.varint()
        return (v >> 1) ^ -(v & 1)

    def binary(self, ftype: int) -> bytes:
        if ftype != 8:
            raise ValueError(f"thrift type {ftype} is not binary")
        n = self.varint()
        self.pos += n
        return self.buf[self.pos - n:self.pos]

    def fields(self):
        """(field id, type) of each field of the struct at the cursor; a
        bool's value is its type (1 true, 2 false)."""
        fid = 0
        while True:
            b = self.byte()
            if b == 0:
                return
            fid = fid + (b >> 4) if b >> 4 else self.int(4)
            yield fid, b & 0x0F

    def list_header(self) -> tuple[int, int]:
        b = self.byte()
        n = b >> 4
        return (self.varint() if n == 15 else n), b & 0x0F

    def skip(self, ftype: int, element: bool = False) -> None:
        if ftype in (1, 2):
            self.pos += element  # a container's bool is one byte
        elif ftype == 3:
            self.pos += 1
        elif ftype in (4, 5, 6):
            self.varint()
        elif ftype == 7:
            self.pos += 8
        elif ftype == 8:
            n = self.varint()
            self.pos += n
        elif ftype in (9, 10):
            n, et = self.list_header()
            for _ in range(n):
                self.skip(et, True)
        elif ftype == 11:
            n = self.varint()
            if n:
                kv = self.byte()
                for _ in range(n):
                    self.skip(kv >> 4, True)
                    self.skip(kv & 0x0F, True)
        elif ftype == 12:
            for _, t in self.fields():
                self.skip(t)
        else:
            raise ValueError(f"thrift type {ftype}")


class _Element(NamedTuple):
    """One Parquet ``SchemaElement``: a group when ``physical`` is None.
    ``annotation`` is the logical type as a tuple (``("INT", bits,
    signed)``, ``("DECIMAL", precision, scale)``, ``("TIMESTAMP", utc,
    unit)``, ``("STRING",)``, ...), ``("?",)`` when unknown."""

    name: str
    physical: "int | None"
    repetition: int
    children: int
    annotation: "tuple | None"
    type_length: int
    field_id: bool


class _Footer(NamedTuple):
    elements: tuple  # flat, depth-first, root first
    spark_key: "str | None"


# Parquet physical types and repetitions
_BOOLEAN, _INT32, _INT64, _INT96, _FLOAT, _DOUBLE, _BINARY, _FLBA = range(8)
_REQUIRED, _OPTIONAL, _REPEATED = range(3)

_UNITS = {1: "MILLIS", 2: "MICROS", 3: "NANOS"}
_LOGICAL_NAMES = {
    1: "STRING", 2: "MAP", 3: "LIST", 4: "ENUM", 6: "DATE", 11: "UNKNOWN",
    12: "JSON", 13: "BSON", 14: "UUID", 15: "FLOAT16",
}
_CONVERTED = {
    0: ("STRING",), 1: ("MAP",), 2: ("MAP_KEY_VALUE",), 3: ("LIST",),
    4: ("ENUM",), 6: ("DATE",), 7: ("TIME", True, "MILLIS"),
    8: ("TIME", True, "MICROS"), 9: ("TIMESTAMP", True, "MILLIS"),
    10: ("TIMESTAMP", True, "MICROS"), 11: ("INT", 8, False),
    12: ("INT", 16, False), 13: ("INT", 32, False), 14: ("INT", 64, False),
    15: ("INT", 8, True), 16: ("INT", 16, True), 17: ("INT", 32, True),
    18: ("INT", 64, True), 19: ("JSON",), 20: ("BSON",), 21: ("INTERVAL",),
}


def _unit(r: _Compact) -> str:
    unit = "?"
    for fid, t in r.fields():
        unit = _UNITS.get(fid, "?")
        r.skip(t)
    return unit


def _logical_type(r: _Compact) -> tuple:
    """The ``LogicalType`` union at the cursor."""
    out: tuple = ("?",)
    for fid, t in r.fields():
        if t != 12:
            r.skip(t)
            continue
        if fid == 5:  # DECIMAL {1: scale, 2: precision}
            scale = precision = None
            for f, ft in r.fields():
                if f == 1:
                    scale = r.int(ft)
                elif f == 2:
                    precision = r.int(ft)
                else:
                    r.skip(ft)
            out = ("DECIMAL", precision, scale)
        elif fid in (7, 8):  # TIME / TIMESTAMP {1: isAdjustedToUTC, 2: unit}
            utc, unit = None, "?"
            for f, ft in r.fields():
                if f == 1 and ft in (1, 2):
                    utc = ft == 1
                elif f == 2 and ft == 12:
                    unit = _unit(r)
                else:
                    r.skip(ft)
            out = ("TIME" if fid == 7 else "TIMESTAMP", utc, unit)
        elif fid == 10:  # INTEGER {1: bitWidth, 2: isSigned}
            bits = signed = None
            for f, ft in r.fields():
                if f == 1:
                    bits = r.int(ft)
                elif f == 2 and ft in (1, 2):
                    signed = ft == 1
                else:
                    r.skip(ft)
            out = ("INT", bits, signed)
        else:
            r.skip(t)
            out = (_LOGICAL_NAMES.get(fid, "?"),)
    return out


def _same_annotation(logical: tuple, converted: tuple) -> bool:
    """Whether a converted type names the logical type beside it (the UTC
    flag has no converted form)."""
    if logical[0] in ("TIME", "TIMESTAMP"):
        return logical[0] == converted[0] and logical[2] == converted[2]
    return logical == converted


def _schema_element(r: _Compact) -> _Element:
    name, physical, repetition, children = "", None, _REQUIRED, 0
    converted = logical = None
    type_length = scale = precision = 0
    field_id = False
    for fid, t in r.fields():
        if fid == 1:
            physical = r.int(t)
        elif fid == 2:
            type_length = r.int(t)
        elif fid == 3:
            repetition = r.int(t)
        elif fid == 4:
            name = r.binary(t).decode()
        elif fid == 5:
            children = r.int(t)
        elif fid == 6:
            converted = r.int(t)
        elif fid == 7:
            scale = r.int(t)
        elif fid == 8:
            precision = r.int(t)
        elif fid == 9:
            field_id = True
            r.skip(t)
        elif fid == 10 and t == 12:
            logical = _logical_type(r)
        else:
            r.skip(t)
    annotation = logical
    if converted is not None:
        conv = ("DECIMAL", precision, scale) if converted == 5 else _CONVERTED.get(
            converted, ("?",)
        )
        if logical is None:
            annotation = conv
        elif not _same_annotation(logical, conv):
            annotation = ("?",)  # Parquet readers disagree on which wins
    return _Element(
        name, physical, repetition, children, annotation, type_length, field_id
    )


def _file_metadata(buf: bytes) -> _Footer:
    """The schema and Spark key of a serialized ``FileMetaData``."""
    r = _Compact(buf)
    elements: tuple = ()
    key = None
    for fid, t in r.fields():
        if fid == 2 and t == 9:
            n, et = r.list_header()
            if et != 12:
                raise ValueError("schema is not a list of structs")
            elements = tuple(_schema_element(r) for _ in range(n))
        elif fid == 5 and t == 9:  # key_value_metadata
            n, _ = r.list_header()
            for _ in range(n):
                k = v = None
                for f, ft in r.fields():
                    if f == 1:
                        k = r.binary(ft)
                    elif f == 2:
                        v = r.binary(ft)
                    else:
                        r.skip(ft)
                if k == SPARK_SCHEMA_KEY.encode() and v is not None:
                    # one copy for the many files of a table
                    key = sys.intern(v.decode())
        else:
            r.skip(t)
    return _Footer(elements, key)


@lru_cache(maxsize=1024)
def _read_footer(path: str, ino: int, size: int, mtime_ns: int) -> "_Footer | None":
    """One file version's footer, or None when it is not a readable,
    unencrypted Parquet file."""
    try:
        with open(path, "rb") as fh:
            fh.seek(size - 8)
            tail = fh.read(8)
            n = int.from_bytes(tail[:4], "little")
            if tail[4:] != b"PAR1" or n > size - 12:
                return None
            fh.seek(size - 8 - n)
            footer = _file_metadata(fh.read(n))
    except (OSError, ValueError, IndexError, UnicodeDecodeError):
        return None
    return footer if footer.elements else None


def _file_version(path: str) -> "tuple[str, int, int, int] | None":
    """``(path, inode, size, mtime_ns)`` of ``path`` now; None when it
    cannot be read."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return path, st.st_ino, st.st_size, st.st_mtime_ns


def _footer(path: str) -> "_Footer | None":
    """The footer of ``path`` as it is now (memoized per file version)."""
    version = _file_version(path)
    if version is None or version[2] < 12:
        return None
    return _read_footer(*version)


# ------------------------------------------------------ Parquet -> Spark


class _Unmapped(Exception):
    """A footer shape the resolver does not map: Spark infers."""


class _ReadConf(NamedTuple):
    """The session values Spark's Parquet schema inference reads."""

    infer_ntz: bool
    nanos_as_long: bool
    binary_as_string: bool
    int96_as_timestamp: bool
    case_sensitive: bool

    @classmethod
    def of(cls, spark: SparkSession) -> "_ReadConf":
        def flag(key: str) -> bool:
            return spark.conf.get(key).strip().lower() == "true"

        return cls(
            flag("spark.sql.parquet.inferTimestampNTZ.enabled"),
            flag("spark.sql.legacy.parquet.nanosAsLong"),
            flag("spark.sql.parquet.binaryAsString"),
            flag("spark.sql.parquet.int96AsTimestamp"),
            flag("spark.sql.caseSensitive"),
        )


def _decimal(ann: tuple, max_precision: int = 38) -> T.DecimalType:
    _, precision, scale = ann
    if precision is None or scale is None:
        raise _Unmapped
    if not (1 <= precision <= min(max_precision, 38) and 0 <= scale <= precision):
        raise _Unmapped
    return T.DecimalType(precision, scale)


#: INT(bits, signed) -> Spark type; unsigned ints widen to the next type
_INT_TYPES = {
    (_INT32, 8, True): T.ByteType(), (_INT32, 16, True): T.ShortType(),
    (_INT32, 32, True): T.IntegerType(), (_INT32, 8, False): T.ShortType(),
    (_INT32, 16, False): T.IntegerType(), (_INT32, 32, False): T.LongType(),
    (_INT64, 64, True): T.LongType(), (_INT64, 64, False): T.DecimalType(20, 0),
}


#: unannotated physical types
_PLAIN_TYPES = {
    _BOOLEAN: T.BooleanType(), _INT32: T.IntegerType(), _INT64: T.LongType(),
    _FLOAT: T.FloatType(), _DOUBLE: T.DoubleType(), _FLBA: T.BinaryType(),
}


def _primitive(e: _Element, c: _ReadConf) -> T.DataType:
    """Spark's type for a Parquet primitive
    (``ParquetToSparkSchemaConverter.convertPrimitiveField``)."""
    p, ann = e.physical, e.annotation
    kind = ann[0] if ann else None
    if ann is None:
        if p in _PLAIN_TYPES:
            return _PLAIN_TYPES[p]
        if p == _INT96 and c.int96_as_timestamp:
            return T.TimestampType()
        if p == _BINARY:
            return T.StringType() if c.binary_as_string else T.BinaryType()
    elif kind == "INT" and (p, ann[1], ann[2]) in _INT_TYPES:
        return _INT_TYPES[(p, ann[1], ann[2])]
    elif kind == "DECIMAL":
        if p == _INT32:
            return _decimal(ann, 9)
        if p == _INT64:
            return _decimal(ann, 18)
        if p == _BINARY:
            return _decimal(ann)
        if p == _FLBA and e.type_length > 0:
            # Spark's Decimal.maxPrecisionForBytes
            return _decimal(ann, len(str(2 ** (8 * e.type_length - 1) - 1)) - 1)
    elif kind == "DATE" and p == _INT32:
        return T.DateType()
    elif kind in ("STRING", "ENUM", "JSON") and p == _BINARY:
        return T.StringType()
    elif kind == "TIMESTAMP" and p == _INT64 and ann[1] is not None:
        if ann[2] in ("MILLIS", "MICROS"):
            if ann[1] or not c.infer_ntz:
                return T.TimestampType()
            return T.TimestampNTZType()
        if ann[2] == "NANOS" and c.nanos_as_long:
            return T.LongType()
    raise _Unmapped


def _field_type(e: _Element, kids: list, c: _ReadConf) -> T.DataType:
    """Spark's type for one non-repeated field and its subtree, every
    level nullable as file sources read back."""
    if e.field_id:
        raise _Unmapped
    if e.physical is not None:
        if kids:
            raise _Unmapped
        return _primitive(e, c)
    ann = e.annotation
    if ann is None:
        return _struct(kids, c)
    if ann == ("LIST",) and len(kids) == 1:
        rep, inner = kids[0]
        # the standard 3-level list; 2-level and legacy-named lists are
        # Spark's to decode
        if (
            rep.repetition == _REPEATED and rep.physical is None
            and rep.annotation is None and not rep.field_id
            and len(inner) == 1 and rep.name not in ("array", f"{e.name}_tuple")
            and inner[0][0].repetition != _REPEATED
        ):
            return T.ArrayType(_field_type(*inner[0], c), True)
    elif ann in (("MAP",), ("MAP_KEY_VALUE",)) and len(kids) == 1:
        kv, pair = kids[0]
        if (
            kv.repetition == _REPEATED and kv.physical is None
            and kv.annotation is None and not kv.field_id and len(pair) == 2
            and pair[0][0].repetition == _REQUIRED
            and pair[1][0].repetition != _REPEATED
        ):
            return T.MapType(
                _field_type(*pair[0], c), _field_type(*pair[1], c), True
            )
    raise _Unmapped


def _struct(kids: list, c: _ReadConf) -> T.StructType:
    if not kids:
        raise _Unmapped
    fields = []
    for e, sub in kids:
        if e.repetition == _REPEATED:  # a bare repeated field
            raise _Unmapped
        fields.append(T.StructField(e.name, _field_type(e, sub, c), True))
    return T.StructType(fields)


def _tree(elements: tuple) -> tuple:
    """(element, [(child, [...]), ...]) from the depth-first list."""
    it = iter(elements)

    def node():
        e = next(it)
        return e, [node() for _ in range(max(e.children, 0))]

    try:
        root = node()
    except (StopIteration, RecursionError):
        raise _Unmapped from None
    if next(it, None) is not None:
        raise _Unmapped
    return root


def _converted_schema(elements: tuple, c: _ReadConf) -> "T.StructType | None":
    try:
        root, kids = _tree(elements)
        if root.physical is not None:
            raise _Unmapped
        return _struct(kids, c)
    except _Unmapped:
        return None


def _file_schema(path: str, c: _ReadConf) -> "T.StructType | None":
    """What Spark reads one file's schema as, every field nullable; None
    when only Spark can tell."""
    footer = _footer(path)
    if footer is None:
        return None
    if footer.spark_key is not None:
        try:
            return _as_nullable(T.StructType.fromJson(json.loads(footer.spark_key)))
        except Exception:
            return None  # a key this client cannot parse
    return _converted_schema(footer.elements, c)


# ---------------------------------------------------------------- merging


class _AskSpark(Exception):
    """A footer merge only Spark's own rules settle (decimal precision,
    interval ranges, user-defined types)."""


def _merge_type(a: T.DataType, b: T.DataType, cs: bool) -> T.DataType:
    """Spark's ``StructType.merge`` rule for one column's two types."""
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        return _merge_struct(a, b, cs)
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(
            _merge_type(a.elementType, b.elementType, cs),
            a.containsNull or b.containsNull,
        )
    if isinstance(a, T.MapType) and isinstance(b, T.MapType):
        return T.MapType(
            _merge_type(a.keyType, b.keyType, cs),
            _merge_type(a.valueType, b.valueType, cs),
            a.valueContainsNull or b.valueContainsNull,
        )
    if a == b:
        return a
    if type(a) is type(b):
        raise _AskSpark
    raise ValueError(
        f"failed to merge incompatible data types {a.simpleString()} "
        f"and {b.simpleString()}"
    )


def _merge_struct(a: T.StructType, b: T.StructType, cs: bool) -> T.StructType:
    """``a.merge(b)`` as Spark does it: ``a``'s fields in order, each
    widened by ``b``'s same-named field, then ``b``'s new fields; names
    match case-insensitively unless ``cs``."""
    key = (lambda n: n) if cs else str.lower
    right = {key(f.name): f for f in b.fields}
    out = []
    for f in a.fields:
        g = right.get(key(f.name))
        if g is None:
            out.append(f)
            continue
        try:
            merged = _merge_type(f.dataType, g.dataType, cs)
        except ValueError as e:
            raise ValueError(f"failed to merge fields {f.name!r} and {g.name!r}: {e}") from e
        out.append(T.StructField(f.name, merged, f.nullable or g.nullable, f.metadata))
    left = {key(f.name) for f in a.fields}
    return T.StructType(out + [g for g in b.fields if key(g.name) not in left])


def _as_nullable(t: T.DataType) -> T.DataType:
    """Every field, element and map value nullable, as file sources read
    back (Spark's ``asNullable``)."""
    if isinstance(t, T.StructType):
        return T.StructType([
            T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in t.fields
        ])
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


def _names_clash(t: T.DataType, cs: bool) -> bool:
    """Whether any struct in ``t`` repeats a field name under the session's
    case rule (Spark refuses such a read itself)."""
    if isinstance(t, T.StructType):
        names = [f.name if cs else f.name.lower() for f in t.fields]
        return len(set(names)) < len(names) or any(
            _names_clash(f.dataType, cs) for f in t.fields
        )
    if isinstance(t, T.ArrayType):
        return _names_clash(t.elementType, cs)
    if isinstance(t, T.MapType):
        return _names_clash(t.keyType, cs) or _names_clash(t.valueType, cs)
    return False


# ------------------------------------------------------------ read path


def _data_files(path: str) -> "list[str] | None":
    """The Parquet files Spark lists for ``path`` (a file, or a table dir
    in Spark's order: sorted by name); None where planning needs Spark's
    own listing: a glob or URI, a summary file, a subdirectory (partition
    columns), or no data file at all."""
    if any(ch in path for ch in "{}[]*?\\") or "://" in path:
        return None
    if os.path.isfile(path):
        hidden = os.path.basename(path).startswith(("_", "."))
        return None if hidden or not os.path.getsize(path) else [path]
    if not os.path.isdir(path):
        return None
    files = []
    for name in sorted(os.listdir(path)):
        if name.startswith(("_metadata", "_common_metadata")):
            return None
        if (
            (name.startswith("_") and "=" not in name)
            or name.startswith(".") or name.endswith("._COPYING_")
        ):
            continue  # hidden: markers, _SUCCESS, .crc files
        full = os.path.join(path, name)
        if os.path.isdir(full):
            return None
        if os.path.getsize(full):
            files.append(full)
    return files or None


def footer_schema(
    spark: SparkSession, path: str, merge: bool = False
) -> "T.StructType | None":
    """The schema Spark infers for ``path``, from its files' footers on
    the driver, without the inference job.

    ``merge`` gives ``spark.read.option("mergeSchema", "true")``'s answer:
    each file's schema merged in listing order by Spark's rule, field
    order included; columns whose types conflict raise the ValueError
    Spark's merge would. Without it, every file must resolve to the same
    schema. None when only Spark can tell (see the module docstring); the
    caller then infers through Spark."""
    files = _data_files(path)
    if files is None:
        return None
    c = _ReadConf.of(spark)
    schemas = []
    for f in files:
        s = _file_schema(f, c)
        if s is None:
            return None
        schemas.append(s)
    schema = schemas[0]
    if merge:
        try:
            for s in schemas[1:]:
                schema = _merge_struct(schema, s, c.case_sensitive)
        except _AskSpark:
            return None
    elif any(s != schema for s in schemas[1:]):
        return None
    return None if _names_clash(schema, c.case_sensitive) else schema


def read_parquet(spark: SparkSession, path: str, merge: bool = False) -> DataFrame:
    """``spark.read.parquet(path)`` (``merge``: with ``mergeSchema``) under
    the schema :func:`footer_schema` resolves, so planning the read starts
    no Spark job; Spark infers when the resolver cannot."""
    schema = footer_schema(spark, path, merge)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    reader = spark.read.option("mergeSchema", "true") if merge else spark.read
    return reader.parquet(path)


def nanos_columns(path: str) -> tuple[str, ...]:
    """Top-level columns stored as Parquet TIMESTAMP(NANOS), from the
    footer of the first file Spark lists under ``path``. Spark has no
    nanosecond timestamp type; we read them as nanos-since-epoch longs
    (``spark.sql.legacy.parquet.nanosAsLong``) and rebuild a microsecond
    TimestampType column, truncating exactly like DuckDB/Arrow readers
    do, so cross-engine semantics agree."""
    files = _data_files(path)
    footer = _footer(files[0]) if files else None
    try:
        _, kids = _tree(footer.elements) if footer else (None, [])
    except _Unmapped:
        return ()
    return tuple(
        e.name for e, _ in kids
        if e.physical == _INT64 and e.annotation is not None
        and e.annotation[0] == "TIMESTAMP" and e.annotation[2] == "NANOS"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = table_path(sf_dir, name)
    # parquet timestamp semantics are session invariants declared in
    # session.get_spark / __spark_entry__._configure (naive → session-TZ
    # TimestampType, TIMESTAMP(NANOS) → long). Re-asserted here idempotently
    # so a bare external session still reads correctly — but no longer a
    # hidden per-read mutation: the values never vary per table.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the versions before the schema: a file rewritten during this call
    # keys a new entry next time rather than leaving a stale one
    versions = tuple(map(_file_version, _data_files(path) or ()))
    schema = footer_schema(spark, path)
    if schema is None:  # Spark infers: never memoized
        return _with_micros(read_parquet(spark, path), path)
    return _resolved_table(spark, path, schema, versions)


@lru_cache(maxsize=256)
def _resolved_table(
    spark: SparkSession, path: str, schema: T.StructType, versions: tuple
) -> DataFrame:
    """:func:`load_table`'s DataFrame per session, resolved schema and file
    versions: an unchanged table skips resolving the relation in the JVM
    (~11 ms a read), while a rewritten, added or removed file, or a conf
    change that changes the schema, gets a new DataFrame."""
    return _with_micros(spark.read.schema(schema).parquet(path), path)


def _with_micros(df: DataFrame, path: str) -> DataFrame:
    for c in nanos_columns(path):
        # integer `div`, not `/`: float division loses precision at 1e18 ns
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register each fixture table as a temp view for the SQL surface
    (reference README.md:14-18 — 'you can then use spark sql ... to access
    the data'; here the engine itself serves the SQL)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def publish_scratch(work: str, dest: str) -> None:
    """Atomically publish a fully-built scratch directory at ``dest``
    (one ``os.rename`` — same filesystem by construction: every caller
    builds ``work`` under ``dest``'s parent). Exactly one concurrent
    builder wins the rename; losers see the destination already present
    (EEXIST, or ENOTEMPTY on POSIX when ``dest`` is a non-empty
    directory) and drop their work dir instead of leaking a full copy
    under /tmp per race. Any OTHER OSError (permissions, cross-device
    EXDEV, ...) re-raises immediately — swallowing it would leave
    ``dest`` absent and surface later as an unrelated FileNotFoundError
    far from the cause (r12 advisor). Shared by every memoized-artifact
    layout (converted fixtures, the stored rollup, the persisted ANN
    index)."""
    import errno
    import shutil

    try:
        os.rename(work, dest)
    except OSError as e:
        if e.errno not in (errno.EEXIST, errno.ENOTEMPTY) or not os.path.isdir(dest):
            raise
        shutil.rmtree(work, ignore_errors=True)
