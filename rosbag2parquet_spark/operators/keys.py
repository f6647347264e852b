"""Identity, ordering, and type-shaping operators (reference §1.3/§1.5).

Covers: global seqno assignment (S10), time decomposition (S7), scalar type
promotion (S6), nested-struct flatten via JSON decode (S5/E7 fixture analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rosbag2parquet_spark.sources.catalog import load_table

# -------------------------------------------------------------- seqno (S10)


def assign_seqno_window(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """Small-data fallback: ``row_number`` over a global window — a
    single-reducer sort (Exchange SinglePartition). Kept for tiny inputs and
    as the semantic reference for tests; :func:`assign_seqno` is the real
    path."""
    w = Window.orderBy(*order_cols)
    # LongType: the reference stores seqno as INT64 (MessageTable.cpp:326-329)
    return df.withColumn("seqno", (F.row_number().over(w) - F.lit(1)).cast("long"))


#: default bucket width for timestamp order keys — one bucket per DAY of
#: stream time (micros). Wider buckets keep the literal offset map small
#: (the map is a plan expression — thousands of entries measurably slow
#: planning/codegen) at the cost of larger per-bucket window sorts; callers
#: with denser/sparser streams pass their own bucket expression.
SEQNO_TS_BUCKET_US = 86_400_000_000


def assign_seqno(
    df: DataFrame, order_cols: list[str], bucket: "F.Column | None" = None
) -> DataFrame:
    """Global contiguous 0-based sequence number in log order (reference
    FlattenedRosWriter.cpp:256 — one counter incremented per message across
    ALL types; README.md:119-121 makes it the cross-table join key).

    Scalable exact two-pass plan, pure JVM, no single-partition exchange:

    1. bucket each row by a DATA-DERIVED range key that is monotone in the
       leading order column (default: hour-of-stream for timestamps, a fixed
       div for integers). Data-derived means deterministic: Spark's
       ``repartitionByRange`` is NOT used because its RangePartitioner seeds
       reservoir sampling with the RDD id — two executions of the same
       lineage (the counts pass and the output pass) can draw different
       partition boundaries;
    2. per-bucket counts (one tiny agg — #buckets rows) are collected and
       prefix-summed driver-side into a literal offset map (the same "K
       scalars" collect class as k-means centroids);
    3. seqno = offset[bucket] + row_number() within the bucket — the window
       is PARTITIONED by bucket, so the only wide ops are the bucket-keyed
       exchange and the tiny aggregate.

    Deterministic whenever the full order key is unique. Bucket width trades
    reducer balance against offset-map size; a hierarchical second bucketing
    level extends the construction if the map outgrows the driver.
    """
    first = order_cols[0]
    if bucket is None:
        dtype = df.schema[first].dataType.typeName()
        if dtype in ("timestamp", "timestamp_ntz"):
            bucket = F.expr(
                f"unix_micros(`{first}`) div {SEQNO_TS_BUCKET_US}"
            )
        else:
            bucket = F.expr(f"`{first}` div 100000")
    tagged = df.withColumn("__b", bucket)
    counts = tagged.groupBy("__b").agg(F.count(F.lit(1)).alias("__cnt"))
    rows = sorted((r["__b"], r["__cnt"]) for r in counts.collect())
    acc = 0
    pairs: list = []
    for b, cnt in rows:
        pairs.extend([F.lit(b), F.lit(acc)])
        acc += cnt
    # empty input: no buckets exist, so the offset is the literal 0 (an
    # empty create_map() has VOID key type and fails analysis when probed)
    offset = (
        F.coalesce(F.create_map(*pairs)[F.col("__b")], F.lit(0))
        if pairs
        else F.lit(0)
    )
    w = Window.partitionBy("__b").orderBy(*order_cols)
    # coalesce: the bucket always hits the map (built from this very data) —
    # it only restores the non-null schema the map lookup can't prove
    return tagged.withColumn(
        "seqno",
        (offset + F.row_number().over(w) - F.lit(1)).cast("long"),
    ).drop("__b")


def q_seqno(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = assign_seqno(ev, ["ts", "event_id"])
    return out.select("seqno", "event_id", F.unix_micros("ts").alias("ts_us"))


ORACLE_SEQNO = """
SELECT row_number() OVER (ORDER BY ts, event_id) - 1 AS seqno,
       event_id, epoch_us(ts) AS ts_us
FROM events
"""


# --------------------------------------------------------- time-split (S7)


def split_time(df: DataFrame, col: str) -> DataFrame:
    """Decompose a timestamp into ``<col>_sec`` / ``<col>_nsec`` integer
    columns (reference MessageTable.cpp:187-203 data path, 284-292 schema
    path: ros::Time → two INT32 columns). Spark timestamps carry micros, so
    nsec is micros*1000 — documented precision, same as reference TODO #7
    (rosbag2parquet.cpp:31-32) which wanted native timestamps anyway."""
    # integer-exact floor decomposition: non-negative pmod keeps
    # 0 <= nsec < 1e9 even for pre-epoch timestamps (ros::Time invariant)
    us = F.unix_micros(F.col(col))
    rem = F.pmod(us, F.lit(1_000_000))
    sec = ((us - rem) / 1_000_000).cast("long")
    nsec = rem * 1000
    return df.withColumn(f"{col}_sec", sec).withColumn(
        f"{col}_nsec", nsec.cast("long")
    )


def q_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return split_time(ev, "ts").select("event_id", "ts_sec", "ts_nsec")


ORACLE_TIME_SPLIT = """
SELECT event_id,
       epoch_us(ts) // 1000000 AS ts_sec,
       (epoch_us(ts) - (epoch_us(ts) // 1000000) * 1000000) * 1000 AS ts_nsec
FROM events
"""


# ----------------------------------------------- cast / type promotion (S6)

#: ROS-builtin → Spark promotion map (reference to_parquet_type,
#: MessageTable.cpp:228-260: 1/2-byte ints promote to INT32 because parquet
#: has no narrow ints; uint64 stored signed — known signedness relaxation,
#: rosbag2parquet.cpp:36).
PROMOTIONS: dict[str, str] = {
    "bool": "boolean",
    "int8": "int",
    "uint8": "int",
    "byte": "int",
    "char": "int",
    "int16": "int",
    "uint16": "int",
    "int32": "int",
    "uint32": "int",  # widened, parity with reference's INT32(UINT_32) storage
    "int64": "long",
    "uint64": "long",  # signedness relaxation, as reference
    "float32": "float",
    "float64": "double",
    "string": "string",
}


def q_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar decode + promotion analog (reference handleBuiltin,
    MessageTable.cpp:110-225): narrow/unsigned fixture values re-typed through
    the promotion table. All casts are codegen'd JVM expressions — zero
    Python in the loop."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").cast(PROMOTIONS["int64"]).alias("event_id"),
        F.col("user_id").cast(PROMOTIONS["int16"]).alias("user_id_i32"),
        F.col("value").cast(PROMOTIONS["float64"]).alias("value_f64"),
        F.col("value").cast("int").alias("value_i32"),
        F.col("event_type").cast(PROMOTIONS["string"]).alias("event_type"),
    )


ORACLE_CAST = """
SELECT event_id,
       CAST(user_id AS INTEGER) AS user_id_i32,
       CAST(value AS DOUBLE) AS value_f64,
       CAST(trunc(value) AS INTEGER) AS value_i32,
       CAST(event_type AS VARCHAR) AS event_type
FROM events
"""


# ------------------------------------- flatten / blob decode (S5, E7, S14)

PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType(), True)])


def flatten_struct_cols(df: DataFrame, prefix_sep: str = "_") -> DataFrame:
    """Recursive flatten: every nested struct field becomes a top-level
    column named ``parent_child`` (reference handleMessage walk,
    MessageTable.cpp:40-108; naming MessageTable.cpp:298-301, README.md:56-67).
    Pure projection — generated select list, single codegen stage, no
    shuffle; works to any nesting depth."""

    def expand(schema: T.StructType, parent: str) -> list:
        cols = []
        for f in schema.fields:
            path = f"{parent}.{f.name}" if parent else f.name
            name = path.replace(".", prefix_sep)
            if isinstance(f.dataType, T.StructType):
                cols.extend(expand(f.dataType, path))
            else:
                cols.append(F.col(path).alias(name))
        return cols

    return df.select(*expand(df.schema, ""))


def q_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob decode + flatten (reference E7 blob round-trip,
    rosbag2parquet_test.cpp:262-275 — deserialize the raw ``data`` column
    back into typed fields; fixture blob is the ``props`` JSON string).
    ``from_json`` is the schema-driven deserializer (the handleMessage
    analog); the struct is then flattened with ``_`` prefixes."""
    ev = load_table(spark, sf_dir, "events")
    nested = ev.select(
        "event_id", F.from_json("props", PROPS_SCHEMA).alias("props")
    )
    return flatten_struct_cols(nested)


ORACLE_FLATTEN = """
SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS props_k
FROM events
"""


# -------------------------------------------------- decode-blob round trip


def q_decode_blob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip check as a query: decode the blob, re-serialize, compare
    (reference rosbag2parquet_test.cpp:262-275 asserts blob → message →
    equality). Emits per-row equality so the oracle can assert the same."""
    ev = load_table(spark, sf_dir, "events")
    decoded = ev.select(
        "event_id",
        "props",
        F.from_json("props", PROPS_SCHEMA).getField("k").alias("k"),
    )
    reser = F.concat(F.lit('{"k": '), F.col("k").cast("string"), F.lit("}"))
    return decoded.select(
        "event_id",
        "k",
        (reser == F.col("props")).alias("roundtrip_ok"),
    )


ORACLE_DECODE_BLOB = """
SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k,
       ('{"k": ' || CAST(json_extract(props, '$.k') AS BIGINT) || '}') = props
         AS roundtrip_ok
FROM events
"""


QUERIES = {
    "seqno": q_seqno,
    "time-split": q_time_split,
    "cast": q_cast,
    "flatten": q_flatten,
    "decode-blob": q_decode_blob,
}

ORACLES = {
    "seqno": ORACLE_SEQNO,
    "time-split": ORACLE_TIME_SPLIT,
    "cast": ORACLE_CAST,
    "flatten": ORACLE_FLATTEN,
    "decode-blob": ORACLE_DECODE_BLOB,
}
