"""JSON message-encoding tier for MCAP channels (the Foxglove/websocket
recording shape beside ``protobuf``): Schema records with encoding
``jsonschema`` carry a JSON Schema document, Message payloads are UTF-8
JSON. The JSON Schema compiles to a Spark ``StructType`` (the table
schema) and each payload decodes by one ``json.loads`` walk into the
flattened leaf tuple — the same per-row ``decode(payload) -> tuple``
contract as protobuf, run by the shared decode driver
(:func:`rosbag2parquet_spark.sources.decode.decode_columns`), so the
``on_error`` modes behave alike across grammars.

Supported JSON Schema subset (everything a telemetry recorder emits):
``object`` with ``properties`` (nested objects flatten to
``parent_child`` columns — the same convention as every other tier,
msgdef.py), ``integer`` → long, ``number`` → double, ``string``,
``boolean``, and ``array`` of those scalars (always native — JSON has no
fixed-width blob arrays, so the ``arrays`` mode does not apply).
Anything else (arrays of objects, unions, ``$ref``) raises at PLAN time,
and :func:`rosbag2parquet_spark.sources.mcap.mcap_connection_rows` falls
back to blob-preserving conversion for that channel — the same posture
as an unparseable protobuf descriptor.

Parity citation: the reference decodes only ros1 bags
(rosbag2parquet.cpp:1); this tier extends the same flatten/column
conventions to a third message grammar.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import types as T

#: msg_def marker the per-type decode dispatches on (the slot convention
#: shared with protobuf's base64 marker): marker + raw JSON Schema text
JSON_DEF_PREFIX = "__jsonschema__:"

_SCALARS = {
    "integer": T.LongType(),
    "number": T.DoubleType(),
    "string": T.StringType(),
    "boolean": T.BooleanType(),
}


def spark_schema_from_jsonschema(text: str) -> T.StructType:
    """Compile a JSON Schema document (the supported subset) to the nested
    Spark StructType ``from_json`` decodes with. Raises ``ValueError`` on
    any construct outside the subset — the caller treats that channel as
    blob-preserve-only."""
    try:
        doc = json.loads(text)
    except json.JSONDecodeError as e:
        raise ValueError(f"jsonschema: not valid JSON ({e})") from None
    return _object_type(doc, "$")


def _object_type(node: dict, path: str) -> T.StructType:
    if not isinstance(node, dict) or node.get("type") != "object":
        raise ValueError(f"jsonschema {path}: expected an object schema")
    props = node.get("properties")
    if not isinstance(props, dict) or not props:
        raise ValueError(f"jsonschema {path}: object without properties")
    fields = []
    for name, sub in props.items():
        fields.append(
            T.StructField(name, _field_type(sub, f"{path}.{name}"), True)
        )
    return T.StructType(fields)


def _field_type(node: dict, path: str) -> T.DataType:
    if not isinstance(node, dict):
        raise ValueError(f"jsonschema {path}: schema node must be an object")
    t = node.get("type")
    if t in _SCALARS:
        return _SCALARS[t]
    if t == "object":
        return _object_type(node, path)
    if t == "array":
        items = node.get("items")
        it = items.get("type") if isinstance(items, dict) else None
        if it not in _SCALARS:
            raise ValueError(
                f"jsonschema {path}: only arrays of scalars are supported"
            )
        return T.ArrayType(_SCALARS[it], True)
    raise ValueError(f"jsonschema {path}: unsupported type {t!r}")


def _flat_leaves(
    struct: T.StructType, path: "tuple[str, ...]" = (), flat: str = ""
) -> "list[tuple[tuple, str, T.DataType]]":
    """(field-name path, flat_name, type) leaves in schema order — the
    flat name carries the underscore convention of the other tiers."""
    out = []
    for f in struct.fields:
        p = path + (f.name,)
        fl = f"{flat}{f.name}"
        if isinstance(f.dataType, T.StructType):
            out += _flat_leaves(f.dataType, path=p, flat=f"{fl}_")
        else:
            out.append((p, fl, f.dataType))
    return out


def _scalar_conv(t: T.DataType):
    """A JSON value -> the column value of type ``t`` (never None), under
    ``from_json``'s rules: integers only for long, any number for double,
    the JSON text of a non-string value for string, booleans only for
    boolean; anything else raises."""
    if isinstance(t, T.LongType):
        def conv(v):
            if type(v) is not int or not -(1 << 63) <= v < (1 << 63):
                raise ValueError(f"not a 64-bit JSON integer: {v!r}")
            return v
    elif isinstance(t, T.DoubleType):
        def conv(v):
            if type(v) not in (int, float):
                raise ValueError(f"not a JSON number: {v!r}")
            return float(v)
    elif isinstance(t, T.BooleanType):
        def conv(v):
            if type(v) is not bool:
                raise ValueError(f"not a JSON boolean: {v!r}")
            return v
    else:
        def conv(v):
            return v if type(v) is str else json.dumps(v, separators=(",", ":"))
    return conv


def _leaf_conv(t: T.DataType):
    if not isinstance(t, T.ArrayType):
        return _scalar_conv(t)
    elem = _scalar_conv(t.elementType)

    def conv(v):
        if type(v) is not list:
            raise ValueError(f"not a JSON array: {v!r}")
        return [None if e is None else elem(e) for e in v]

    return conv


def make_json_decoder(struct: T.StructType):
    """Compile a decode function(bytes) -> tuple of the flattened leaf
    values in :func:`_flat_leaves` order: a missing or null field is NULL,
    a payload that is not a JSON object (or nests a non-object where the
    schema has one) raises."""

    def plan(st: T.StructType) -> list:
        return [
            (f.name, plan(f.dataType) if isinstance(f.dataType, T.StructType)
             else _leaf_conv(f.dataType))
            for f in st.fields
        ]

    root = plan(struct)

    def walk(obj, fields: list, out: list) -> None:
        for name, sub in fields:
            v = None if obj is None else obj.get(name)
            if isinstance(sub, list):
                if v is not None and type(v) is not dict:
                    raise ValueError(f"field {name!r} is not a JSON object")
                walk(v, sub, out)
            else:
                out.append(None if v is None else sub(v))

    def decode(payload: bytes) -> tuple:
        doc = json.loads(payload)
        if type(doc) is not dict:
            raise ValueError("json payload is not an object")
        out: list = []
        walk(doc, root, out)
        return tuple(out)

    return decode


def json_tier(msg_def: str) -> tuple:
    """``(flat, decode, None)`` for :func:`sources.decode.decode_columns`:
    the flattened leaf columns (nested ``parent_child`` names, reserved
    names sanitized like every other tier) and a per-row ``json.loads``
    walk. ``arrays``/``unsigned`` do not apply (JSON arrays are always
    native; JSON numbers carry no signedness)."""
    text = msg_def[len(JSON_DEF_PREFIX):] if msg_def.startswith(
        JSON_DEF_PREFIX
    ) else msg_def
    return struct_tier(spark_schema_from_jsonschema(text))


def struct_tier(struct: T.StructType) -> tuple:
    """The :func:`json_tier` of JSON payloads typed by ``struct``, which
    may hold only this tier's types: long, double, string, boolean, arrays
    of those, and nested structs; any other type raises ``ValueError``."""
    from rosbag2parquet_spark.sources.msgdef import _sanitize_flat_names

    scalars = tuple(type(t) for t in _SCALARS.values())
    leaves = _flat_leaves(struct)
    for _p, fl, t in leaves:
        elem = t.elementType if isinstance(t, T.ArrayType) else t
        if not isinstance(elem, scalars):
            raise ValueError(
                f"payload field {fl!r}: {t.simpleString()} is outside the "
                "JSON decode tier (long, double, string, boolean, arrays "
                "of those, nested structs)"
            )
    flat = T.StructType(
        _sanitize_flat_names([T.StructField(fl, t, True) for _p, fl, t in leaves])
    )
    return flat, make_json_decoder(struct), None


def decode_messages_json(
    df: DataFrame,
    datatype: str,
    msg_def: str,
    *,
    data_col: str = "data",
    keep_cols: tuple = (),
    arrays: str = "skip",
    unsigned: str = "signed",
    on_error: str = "fail",
) -> DataFrame:
    """Decode UTF-8 JSON payloads into flattened typed columns through the
    shared Arrow-batched driver (:func:`sources.decode.map_decode`), the
    same contract as the ROS 1/CDR/protobuf tiers: ``on_error='fail'``
    raises on a malformed payload, ``'permissive'`` NULLs the typed
    columns and routes the reason to the ``_decode_error`` dead-letter
    column. ``arrays``/``unsigned`` are accepted for tier-signature parity
    and do not apply."""
    from rosbag2parquet_spark.sources.decode import map_decode

    flat, decode, _ = json_tier(msg_def)
    return map_decode(
        df,
        flat,
        decode,
        data_col=data_col,
        keep_cols=keep_cols,
        on_error=on_error,
    )
