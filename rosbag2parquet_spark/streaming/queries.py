"""Driver-registry entries for the STREAMING surface — each runs a real
Structured Streaming query over the staged fixture stream to completion
(memory sink), then returns the result as a normal DataFrame.

The streaming plans are the same logical plans as their batch twins
(Catalyst incrementalizes them), so each query here carries the SAME
DuckDB oracle as its batch twin — the correctness gate proves not just
"the stream ran" but that incrementalized execution produces the batch
answer bit-for-bit: tumbling windows and sessionization via stateful
aggregation, and the near-dup index via applyInPandasWithState plus a
stream-static verification join.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession

from rosbag2parquet_spark.operators import windows as batch_windows
from rosbag2parquet_spark.streaming.windowed import (
    run_to_memory,
    sessionized,
    stream_events,
    windowed_counts,
)

#: memory-sink table names must be unique per start() within a session
_SEQ = itertools.count()


def _fresh(prefix: str) -> str:
    return f"{prefix}_{next(_SEQ)}"


#: deploy-time monitor config scalars (epoch boundaries, reference ranges,
#: volume baselines) memoized per (applicationId, sf_dir, tag) — the r13
#: ANN query-vector/fit-cache precedent: a deterministic function of the
#: fixture, computed from the parquet inputs on first use, alive only for
#: this Spark session (the applicationId key). Production shape: a monitor
#: snapshots its reference config ONCE at deploy, not per refresh.
_CFG_CACHE: dict = {}


def _fixture_scalars(spark: SparkSession, sf_dir: str, tag: str, compute):
    key = (spark.sparkContext.applicationId, sf_dir, tag)
    if key not in _CFG_CACHE:
        _CFG_CACHE[key] = compute()
    return _CFG_CACHE[key]


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour aggregation executed as a STREAM (complete mode) —
    same logical plan as the batch `window-tumbling`, same oracle."""
    tbl = _fresh("stream_tumbling")
    run_to_memory(windowed_counts(stream_events(spark, sf_dir)), tbl, mode="complete")
    return spark.table(tbl)


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 hour every 30 min — each event in two windows)
    as a STREAM (complete mode); batch `window-sliding`'s oracle."""
    from pyspark.sql import functions as F

    events = stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_events",
            "total_value",
        )
    )
    tbl = _fresh("stream_sliding")
    run_to_memory(agg, tbl, mode="complete")
    return spark.table(tbl)


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window sessionization executed as a STREAM (complete mode) —
    the stateful session-merge path, batch `sessionize`'s oracle."""
    tbl = _fresh("stream_sessionize")
    run_to_memory(sessionized(stream_events(spark, sf_dir)), tbl, mode="complete")
    return spark.table(tbl)


def q_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH near-dup: stateful bucket index
    (applyInPandasWithState) emits candidates as documents arrive; a
    stream-static exact-Jaccard join verifies them. Distinct because a pair
    agreeing on multiple bands verifies once per band (the operator stays
    stateless; dedup is the consumer's one-liner). Same verified pair set —
    ids AND jaccard doubles — as batch `dedup-minhash-lsh`, same oracle."""
    from rosbag2parquet_spark.functions.dedup import _doc_shingle_sets
    from rosbag2parquet_spark.streaming.neardup import (
        stream_documents,
        streaming_verified,
    )

    tbl = _fresh("stream_neardup")
    sets = _doc_shingle_sets(spark, sf_dir)
    run_to_memory(
        streaming_verified(stream_documents(spark, sf_dir), sets),
        tbl,
        mode="append",
    )
    return spark.table(tbl).select("a_id", "b_id", "jaccard").distinct()


def q_stream_neardup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed-vs-batch CANDIDATE pair-set equality as a driver-checked
    scalar row: the incremental LSH index (applyInPandasWithState) must
    emit exactly the batch banded-bucket-join candidate set — same hash
    family ⇒ same buckets ⇒ same pairs. Output (n_streamed, n_batch,
    sym_diff) where sym_diff = |streamed Δ batch| must be 0 and both
    counts must equal the DuckDB-computed candidate count — so parity is
    oracle-proven, not just asserted locally. One pair-keyed shuffle +
    a scalar final aggregate."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.functions.dedup import (
        _doc_shingle_sets,
        lsh_candidates,
        minhash_signatures,
    )
    from rosbag2parquet_spark.streaming.neardup import (
        stream_documents,
        streaming_candidates,
    )

    tbl = _fresh("nd_parity")
    run_to_memory(
        streaming_candidates(stream_documents(spark, sf_dir)), tbl, mode="append"
    )
    streamed = spark.table(tbl).select("a_id", "b_id").distinct()
    batch = lsh_candidates(minhash_signatures(_doc_shingle_sets(spark, sf_dir)))
    # src bitmask per pair: 1 = streamed, 2 = batch; 3 = both
    tagged = streamed.withColumn("src", F.lit(1)).unionByName(
        batch.withColumn("src", F.lit(2))
    )
    per_pair = tagged.groupBy("a_id", "b_id").agg(F.sum("src").alias("m"))
    return per_pair.agg(
        F.sum(F.when(F.col("m").isin(1, 3), 1).otherwise(0))
        .cast("long")
        .alias("n_streamed"),
        F.sum(F.when(F.col("m") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_batch"),
        F.sum(F.when(F.col("m") != 3, 1).otherwise(0))
        .cast("long")
        .alias("sym_diff"),
    )


def q_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The type-router (S3) as a CONTINUOUS pipeline: streaming demux into
    a per-type partitioned parquet layout with a checkpoint (exactly-once
    file sink), then a partition-pruned read-back of one type. Proves the
    whole incremental ingest path — source → typed projection →
    partitioned file sink → prunable layout — equals the batch answer.

    The blob column is compared as ``hex(data)``: the driver's pandas
    canonicalizer cannot hash raw binary (r4 driver-red: ``bytearray`` is
    unhashable under ``factorize``), and the local replica now REJECTS any
    BinaryType column in a compared output so this class stays dead."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from rosbag2parquet_spark.streaming.sink import stream_demux

    out = tempfile.mkdtemp(prefix="stream_sink_")
    q = stream_demux(spark, sf_dir, out)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    try:
        back = (
            spark.read.parquet(out)
            .filter(F.col("datatype") == "purchase")
            .select(
                "seqno",
                F.unix_micros("time").alias("time_us"),
                "size",
                "connection_id",
                F.hex("data").alias("data"),
            )
            .localCheckpoint(eager=True)  # materialize before the dir goes away
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return back


ORACLE_STREAM_SINK = """
SELECT event_id AS seqno, epoch_us(ts) AS time_us, value AS size,
       user_id AS connection_id, hex(encode(props)) AS data
FROM events WHERE event_type = 'purchase'
"""


def q_stream_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    profile, drained to completion; the FINAL update per user (the row with
    the max running count) must equal the batch per-user aggregate. Only
    the integer state is compared — the float running sum accumulates in
    batch-arrival order by design (it's a monitor, not a ledger) and is
    excluded rather than pretending it's canonical."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.streaming.stateful import running_user_profile

    events = stream_events(spark, sf_dir).select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    tbl = _fresh("stream_profile")
    run_to_memory(running_user_profile(events), tbl, mode="update")
    t = spark.table(tbl)
    final = t.withColumn(
        "rk",
        F.expr(
            "row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC)"
        ),
    ).filter(F.col("rk") == 1)
    return final.select("user_id", "n_events", "last_ts_us")


ORACLE_STREAM_PROFILE = """
SELECT user_id, count(*) AS n_events,
       max(epoch_us(ts)) AS last_ts_us
FROM events GROUP BY user_id
"""


def q_stream_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming log compaction (applyInPandasWithState): the latest event
    per user maintained incrementally; the FINAL update per user must equal
    batch `compact-latest` — same oracle. The final row is the one with
    the max (last_ts_us, last_event_id): updates are monotone in that key,
    so max_by over the drained update log IS the last emitted state."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.streaming.stateful import running_compaction

    events = stream_events(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
        "value",
    )
    tbl = _fresh("stream_compact")
    run_to_memory(running_compaction(events), tbl, mode="update")
    t = spark.table(tbl)
    w = "PARTITION BY user_id ORDER BY last_ts_us DESC, last_event_id DESC"
    return (
        t.withColumn("rk", F.expr(f"row_number() OVER ({w})"))
        .filter(F.col("rk") == 1)
        .select(
            "user_id", "last_ts_us", "last_type", "last_value", "last_event_id"
        )
    )


def _compact_oracle() -> str:
    from rosbag2parquet_spark.operators.behavior import ORACLE_COMPACT_LATEST

    return ORACLE_COMPACT_LATEST


def q_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 (applyInPandasWithState): the historized dimension
    maintained as the CDC stream arrives — each state change closes the
    open interval (append emission) and opens the next; the finishing
    query reassembles open+close emissions into the interval table
    (max valid_to per (user, version): -1 = still open loses to any
    close). Must equal batch `scd2-intervals` — same oracle."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.streaming.stateful import running_scd2

    events = stream_events(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
    )
    tbl = _fresh("stream_scd2")
    run_to_memory(running_scd2(events), tbl, mode="append")
    return (
        spark.table(tbl)
        .groupBy("user_id", "version", "state", "valid_from")
        .agg(F.max("valid_to").alias("valid_to"))
        .select("user_id", "state", "valid_from", "valid_to", "version")
    )


def _scd2_oracle() -> str:
    from rosbag2parquet_spark.operators.behavior import ORACLE_SCD2

    return ORACLE_SCD2


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as a STREAM: the content-digest index maintained
    incrementally (groupBy md5, complete mode) — the dedup-at-ingest shape
    of a training-data pipeline, where the duplicate check must run as
    documents arrive, not in a nightly batch. The compared output is the
    GROUP state (digest, min winner, count), not the arrival-order winner
    row — min/count are order-free, so the incremental answer equals batch
    `dedup-exact` bit-for-bit regardless of micro-batch arrival order;
    same oracle."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.streaming.neardup import stream_documents

    docs = stream_documents(spark, sf_dir)
    agg = (
        docs.select(F.md5("text").alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    tbl = _fresh("stream_dedup")
    run_to_memory(agg, tbl, mode="complete")
    return spark.table(tbl)


def _dedup_exact_oracle() -> str:
    from rosbag2parquet_spark.functions.dedup import ORACLE_DEDUP_EXACT

    return ORACLE_DEDUP_EXACT


def q_stream_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL BM25 index maintenance — the text surface's streaming
    twin of batch `bm25-search` (the r11 verdict's named depth item): a
    search engine does not re-tokenize its corpus per query; it APPENDS
    each arriving document's index entry and computes the corpus-level
    scoring constants (N, avgdl, per-term df) from the live index AT
    QUERY TIME — they legitimately change as documents arrive, which is
    exactly why they cannot be baked into the stored entries.

    The live index here is an append-only FORWARD index: one stateless
    map-side row per arriving document — (doc_id, dl, tf per query
    term), the term frequencies computed in-expression
    (size(filter(words, = term)); whole-stage codegen, no explode, no
    stream-side aggregation state, no shuffle at ingest). Arrival order
    is irrelevant by construction (per-doc rows, order-free finishing
    aggregates), so the drained index scores IDENTICALLY to the batch
    pass: the finishing query derives dl/stats/tf/df from the index and
    applies the SHARED `_BM25_TERM_SCORE` expression text — batch
    `bm25-search`'s oracle verbatim, the stream==batch row-for-row pin
    in tests. At scale the ingest is embarrassingly parallel (each doc
    touches only itself) and the per-query cost is the posting scan +
    two tiny aggregates — the index never rebuilds.

    Reference: the reference has no text surface; BM25 per Robertson &
    Zaragoza (2009), the same k1=1.2/b=0.75 rational-idf form as batch
    (see `_BM25_TERM_SCORE` for the bit-identical-doubles argument)."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.functions.text import (
        _BM25_TERM_SCORE,
        BM25_TERMS,
    )
    from rosbag2parquet_spark.streaming.neardup import stream_documents

    docs = stream_documents(spark, sf_dir)
    w = docs.select("doc_id", F.split("text", " ").alias("w"))

    def _eq(term):
        # one-arg lambda factory: a two-parameter lambda would be read
        # by the HOF binder as (element, index)
        return lambda x: x == F.lit(term)

    fwd = w.select(
        "doc_id",
        F.size("w").cast("bigint").alias("dl"),
        *[
            F.size(F.filter("w", _eq(t))).cast("bigint").alias(f"tf_{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    tbl = _fresh("stream_bm25")
    run_to_memory(fwd, tbl, mode="append")
    # finishing query over the LIVE index: unpack the per-term columns
    # into posting rows (tf > 0 == the word occurs, batch's tf CTE),
    # derive df/N/avgdl, and score with the SHARED expression text
    term_map = ", ".join(
        f"'{t}', tf_{i}" for i, t in enumerate(BM25_TERMS)
    )
    return spark.sql(
        f"""
WITH dl AS (SELECT doc_id, dl FROM {tbl}),
stats AS (SELECT count(*) AS n_total,
                 CAST(sum(dl) AS BIGINT) / count(*) AS avgdl FROM {tbl}),
tf AS (SELECT doc_id, word, tf
       FROM {tbl} LATERAL VIEW explode(map({term_map})) AS word, tf
       WHERE tf > 0),
df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
scored AS (
  SELECT tf.doc_id, tf.word,
{_BM25_TERM_SCORE}
  FROM tf JOIN df ON tf.word = df.word
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats
)
SELECT doc_id, count(*) AS n_terms_matched,
       CAST(sum(term_score) AS DOUBLE) AS score
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT 20
"""
    )


def _bm25_oracle() -> str:
    from rosbag2parquet_spark.functions.text import ORACLE_BM25

    return ORACLE_BM25


def q_stream_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental time-grid fill (applyInPandasWithState): each arriving
    event closes the bracket over the grid points behind it, emitting LOCF
    + bit-exact linear interpolation with O(1) state per entity — the
    streaming twin of batch `resample-interpolate`, hash-matched to the
    same oracle. Completes the batch↔stream twin pattern for the last
    major batch-only operator."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.streaming.stateful import running_resample

    events = stream_events(spark, sf_dir).select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.col("value").cast("double").alias("value"),
    )
    tbl = _fresh("stream_resample")
    # the state key domain is event_type (~5 values): size the stateful
    # shuffle to it — a CPU-count default pays 27 empty state stores per
    # trigger (see run_to_memory)
    run_to_memory(running_resample(events), tbl, mode="append", state_partitions=8)
    return spark.table(tbl).select("event_type", "grid_us", "locf", "interp")


def _resample_oracle() -> str:
    from rosbag2parquet_spark.operators.asof import ORACLE_RESAMPLE

    return ORACLE_RESAMPLE


def q_stream_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CDC MERGE (applyInPandasWithState): per-key state is two
    commutative argmaxes (latest base row, latest change row + tombstone
    flag), so the merged table converges under ANY arrival order — the
    order-free streaming twin of batch `merge-upsert`, same oracle. The
    finishing query keeps each user's LAST update emission and drops
    tombstoned rows, matching the batch delete semantics."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.operators.behavior import _MERGE_CUTOFF_US
    from rosbag2parquet_spark.streaming.stateful import running_merge_upsert

    events = stream_events(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
    )
    tbl = _fresh("stream_merge")
    run_to_memory(
        running_merge_upsert(events, _MERGE_CUTOFF_US), tbl, mode="update"
    )
    return _merge_finisher(spark.table(tbl))


def _merge_finisher(
    emissions: DataFrame, extra_col: "str | None" = None
) -> DataFrame:
    """Shared finishing query over merge-apply emissions: last emission
    per user = the max-(last_t, eid) row — the batch oracle's exact tie
    rule (t DESC, event_id DESC), so two changes at the SAME timestamp
    straddling a micro-batch boundary still surface the larger-eid one
    deterministically; tombstoned rows drop, matching the batch delete
    semantics. ``extra_col`` keeps an evolved column (it rides the
    argmax with its row)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    cols = ["user_id", "value", "last_t", "src"]
    if extra_col is not None:
        cols.append(extra_col)
    w = W.partitionBy("user_id").orderBy(
        F.col("last_t").desc(), F.col("eid").desc()
    )
    return (
        emissions.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("deleted") == 0))
        .select(*cols)
    )


def _merge_oracle() -> str:
    from rosbag2parquet_spark.operators.behavior import ORACLE_MERGE_UPSERT

    return ORACLE_MERGE_UPSERT


def _cdc_evolve_oracle() -> str:
    """Batch `merge-upsert`'s oracle extended with the landing EVOLUTION
    boundary: `write_cdc_landing(evolve=True)` sorts the post-cutoff
    changes by (ts_us, event_id) and drops them as three files of
    idx ∈ [0, n//3), [n//3, 2n//3), [2n//3, n); `source_seq` (= event_id)
    exists from the SECOND file on, so a user's merged row carries it iff
    the latest change's global index ≥ n//3 — pure integer arithmetic
    DuckDB reproduces exactly, NULL otherwise (including base-only
    users — the NULL-filled history the batch `_union_fields` contract
    promises)."""
    from rosbag2parquet_spark.operators.behavior import _MERGE_CUTOFF_US

    return f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS t_us, event_id, event_type,
         CAST(value AS DOUBLE) AS value
  FROM events
),
chg AS (
  SELECT *,
         row_number() OVER (ORDER BY t_us, event_id) - 1 AS idx,
         count(*) OVER () AS n
  FROM ev WHERE t_us >= {_MERGE_CUTOFF_US}
),
base AS (
  SELECT user_id, value AS base_value, t_us AS base_t
  FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY t_us DESC, event_id DESC) AS rn
    FROM ev WHERE t_us < {_MERGE_CUTOFF_US}
  ) WHERE rn = 1
),
last_change AS (
  SELECT user_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         value AS chg_value, t_us AS chg_t,
         CASE WHEN idx >= n // 3 THEN event_id END AS source_seq
  FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY t_us DESC, event_id DESC) AS rn
    FROM chg
  ) WHERE rn = 1
)
SELECT user_id, value, last_t, src, source_seq FROM (
  SELECT coalesce(b.user_id, c.user_id) AS user_id,
         coalesce(c.chg_value, b.base_value) AS value,
         coalesce(c.chg_t, b.base_t) AS last_t,
         CASE WHEN c.op IS NULL THEN 'base' ELSE 'change' END AS src,
         c.source_seq AS source_seq, c.op AS op
  FROM base b FULL OUTER JOIN last_change c ON b.user_id = c.user_id
) WHERE op IS NULL OR op = 'U'
"""


def write_cdc_landing(spark: SparkSession, sf_dir: str, evolve: bool = False):
    """Materialize the CDC LANDING-DIRECTORY contract for the fixture:
    a fresh directory holding one parquet file per change batch — file
    000 is the pre-cutoff base snapshot (the initial CDC load), files
    001..003 are the post-cutoff changes split into three time-ordered
    drops. This is the file-landing ingest contract `stream-cdc-apply`
    closes: in production a Debezium/DMS-style job drops each extracted
    batch as a file and the streaming query picks it up; here the drops
    are staged up front and maxFilesPerTrigger=1 replays them one
    micro-batch each. Returns (landing_dir, spark_schema).

    ``evolve=True`` plays the producer-upgrade scenario the batch layout
    handles with `_union_fields` (convert.py): the extractor starts
    stamping a ``source_seq`` column (here = the change's event_id, so
    the oracle can reproduce it) FROM THE SECOND CHANGE DROP ON — files
    000/001 lack the column entirely, files 002/003 carry it. Readers
    take the union schema (`landing_union_schema`) and see NULL for
    pre-evolution rows."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as papq
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.operators.behavior import _MERGE_CUTOFF_US
    from rosbag2parquet_spark.sources.catalog import load_table

    shaped = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
    )
    pdf = (
        shaped.toPandas()
        .sort_values(["ts_us", "event_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    landing = tempfile.mkdtemp(prefix="rosbag2parquet_spark_cdc_")
    base = pdf[pdf.ts_us < _MERGE_CUTOFF_US]
    changes = pdf[pdf.ts_us >= _MERGE_CUTOFF_US].reset_index(drop=True)
    n = len(changes)
    batches = [("000_base", base)] + [
        (f"{i + 1:03d}_changes", changes.iloc[i * n // 3 : (i + 1) * n // 3])
        for i in range(3)
    ]
    for bi, (name, part) in enumerate(batches):
        part = part.reset_index(drop=True)
        if evolve and bi >= 2:  # files 002_changes and 003_changes
            part = part.assign(source_seq=part["event_id"])
        papq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(landing, f"{name}.parquet"),
        )
    return landing, shaped.schema


def landing_union_schema(spark: SparkSession, landing: str):
    """The UNION schema of every parquet file in a landing directory —
    the source-side mirror of batch `_union_fields` (convert.py) under
    the same additive-evolution contract as `assert_append_compatible`
    (convert.py): a column present in several files must agree on type
    (a changed type is refused loudly, never coerced), new columns append
    in first-seen file order as NULLABLE. Declaring this schema on the
    `readStream` makes the parquet source NULL-fill pre-evolution files —
    no data rewrite, no second pass; footer-only probing (one schema read
    per landing file, metadata-only)."""
    import os

    from pyspark.sql import types as T

    seen: dict[str, str] = {}
    fields: list = []
    for f in sorted(os.listdir(landing)):
        if not f.endswith(".parquet"):
            continue
        sch = spark.read.parquet(os.path.join(landing, f)).schema
        for fld in sch.fields:
            simple = fld.dataType.simpleString()
            if fld.name in seen:
                if seen[fld.name] != simple:
                    raise ValueError(
                        f"landing schema evolution in {landing}: column "
                        f"{fld.name} type conflict {seen[fld.name]} != "
                        f"{simple} (type changes are never silently "
                        "coerced — the assert_append_compatible contract)"
                    )
            else:
                seen[fld.name] = simple
                fields.append(
                    T.StructField(fld.name, fld.dataType, nullable=True)
                )
    return T.StructType(fields)


def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC file-landing ingest WITH SCHEMA EVOLUTION: `readStream` over a
    landing DIRECTORY of change-batch parquet files feeding the existing
    last-writer-wins merge apply (`running_merge_upsert`) — the contract
    that closes the ingest loop `stream-merge-upsert` proves from a
    staged stream. Each dropped file is one micro-batch
    (maxFilesPerTrigger=1); the per-key state is two commutative
    argmaxes, so the merged table converges under ANY batch split or
    arrival order — the convergence tests drop files AFTER a first run
    and resume from the checkpoint (tests/test_streaming.py).

    The landing EVOLVES mid-stream (the batch `_union_fields` contract on
    the streaming path, convert.py:999): the extractor starts stamping a
    ``source_seq`` column from the second change drop on; the stream
    declares the union schema (`landing_union_schema`), the parquet
    source NULL-fills the pre-evolution files, and the merged row carries
    the column NULL-filled for keys last changed before the evolution —
    exactly how a later-epoch batch part NULL-fills history. Oracle =
    batch `merge-upsert` extended with the same deterministic
    evolution-boundary arithmetic (the batch split is index math over the
    (ts_us, event_id) ordering, so DuckDB reproduces which drop each
    change landed in)."""
    from rosbag2parquet_spark.operators.behavior import _MERGE_CUTOFF_US
    from rosbag2parquet_spark.streaming.stateful import running_merge_upsert

    import shutil

    landing, _base_schema = write_cdc_landing(spark, sf_dir, evolve=True)
    stream = (
        spark.readStream.schema(landing_union_schema(spark, landing))
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    tbl = _fresh("stream_cdc")
    try:
        run_to_memory(
            running_merge_upsert(
                stream, _MERGE_CUTOFF_US, extra_col="source_seq"
            ),
            tbl,
            mode="update",
        )
    finally:
        # the memory sink holds the emissions; the staged landing files
        # are not read again after the drain
        shutil.rmtree(landing, ignore_errors=True)
    return _merge_finisher(spark.table(tbl), extra_col="source_seq")


def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental Misra-Gries heavy hitters (applyInPandasWithState keyed
    by term-hash bucket — disjoint term partitions, so per-bucket
    capacity-K summaries carry the batch sketch's global guarantee, and MG
    is one-pass so ANY arrival order preserves it). The finishing query
    takes each bucket's latest summary emission and runs the SAME exact
    audit as batch `heavy-hitters` — same oracle."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.functions.text import _MG_K, _words
    from rosbag2parquet_spark.sources.catalog import load_table
    from rosbag2parquet_spark.streaming.neardup import stream_documents
    from rosbag2parquet_spark.streaming.stateful import running_heavy_hitters

    toks = (
        stream_documents(spark, sf_dir)
        .select(F.explode(_words()).alias("term"))
        .filter(F.col("term") != "")
        .select(
            F.pmod(F.xxhash64("term"), F.lit(16)).cast("int").alias("bucket"),
            "term",
        )
    )
    tbl = _fresh("stream_hh")
    run_to_memory(running_heavy_hitters(toks), tbl, mode="update")
    w = W.partitionBy("bucket")
    latest = (
        spark.table(tbl)
        .withColumn("max_seen", F.max("seen").over(w))
        .filter(F.col("seen") == F.col("max_seen"))
    )
    sketch = (
        latest.filter(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.sum("est").alias("est"))
    )
    totals = latest.filter(F.col("term").isNull()).agg(
        F.sum("n").alias("N"), F.sum("dec").alias("D")
    ).collect()[0]  # 2 scalars — the sketch's merge summary
    thresh = int(totals.N) // (_MG_K + 1)
    exact = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(_words()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .filter(F.col("true_count") > thresh)
    )
    return exact.join(sketch, "term", "left").select(
        "term",
        "true_count",
        F.col("est").isNotNull().alias("reported"),
        (
            F.col("est").isNotNull()
            & (F.col("est") <= F.col("true_count"))
            & (F.col("true_count") - F.col("est") <= F.lit(thresh))
        ).alias("bound_ok"),
    )


def _hh_oracle() -> str:
    from rosbag2parquet_spark.functions.text import ORACLE_HEAVY_HITTERS

    return ORACLE_HEAVY_HITTERS


def q_stream_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental silence detection (applyInPandasWithState): state is the
    last-seen event per entity; each arrival closes the interval behind it
    and emits a gap row when it exceeds the threshold — the LIVE fleet
    health monitor, hash-matched to batch `gap-detect`'s oracle."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.streaming.stateful import running_gap_detect

    events = stream_events(spark, sf_dir).select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    tbl = _fresh("stream_gaps")
    run_to_memory(running_gap_detect(events), tbl, mode="append")
    return spark.table(tbl)


def _gap_oracle() -> str:
    from rosbag2parquet_spark.operators.asof import ORACLE_GAP_DETECT

    return ORACLE_GAP_DETECT


def stream_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders.parquet staged as a file stream (same pattern as
    stream_events; the quote side of the streaming as-of join)."""
    from rosbag2parquet_spark.streaming.windowed import stage_stream_file

    return spark.readStream.schema(
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    ).parquet(stage_stream_file(sf_dir, "orders.parquet", "orderstream"))


def stream_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings.parquet staged as a file stream (same pattern as
    stream_events; the document stream of the incremental semantic dedup)."""
    from rosbag2parquet_spark.streaming.windowed import stage_stream_file

    return spark.readStream.schema(
        "vec_id long, embedding array<float>, label int"
    ).parquet(stage_stream_file(sf_dir, "embeddings.parquet", "embstream"))


def q_stream_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic dedup: documents stream into their k-means
    cell (assignment by the deterministic batch-fit centroids — a
    stateless codegen'd expression on the stream) and compare against the
    per-cluster seen-document index held as state; survivors emit
    immediately. Same oracle as batch `semdedup` — the streamed kept set
    must equal the batch kept set exactly (arrival order == vec_id order
    under the keyed-log contract; parquet staging delivers one in-order
    micro-batch here, cross-batch continuity is test-pinned)."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.functions.kmeans import (
        assign_clusters_vectorized,
        kmeans_fit_cached,
    )
    from rosbag2parquet_spark.streaming.stateful import running_semdedup

    centroids, _ = kmeans_fit_cached(spark, sf_dir)
    vecs = stream_embeddings(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    assigned = assign_clusters_vectorized(vecs, centroids)
    tbl = _fresh("stream_semdedup")
    run_to_memory(running_semdedup(assigned), tbl, mode="append")
    return spark.table(tbl).select("vec_id", "cluster")


def _semdedup_oracle() -> str:
    from rosbag2parquet_spark.functions.kmeans import ORACLES as _KM_ORACLES

    return _KM_ORACLES["semdedup"]


def q_stream_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming multi-query top-k (the live-index ANN shape): the M query
    vectors are fixed (collected once, normalized, shipped in the scoring
    closure); corpus vectors STREAM in, a stateless Arrow `mapInPandas`
    stage scores each arriving doc against all M queries in one BLAS
    matvec (M rows out per doc), and a per-query stateful top-k
    (applyInPandasWithState keyed by query_id — state shards across
    executors) maintains the running answer. Top-k maintenance is
    commutative, so ANY arrival order converges to batch `knn-batch`'s
    answer — same oracle. The finishing query keeps each query's last
    emission (max seen-counter)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.functions.similarity import (
        KNN_BATCH_QUERIES,
        KNN_K,
    )
    from rosbag2parquet_spark.sources.catalog import load_table
    from rosbag2parquet_spark.streaming.stateful import running_topk

    qrows = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < KNN_BATCH_QUERIES)
        .orderBy("vec_id")
        .collect()
    )
    qm = np.stack(
        [np.asarray(r.embedding, dtype=np.float64) for r in qrows]
    )
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    qids = [int(r.vec_id) for r in qrows]

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf["embedding"]]
            )
            v = v / np.linalg.norm(v, axis=1, keepdims=True)
            s = np.round(v @ qm.T, 6)  # docs x M
            n, m = s.shape
            yield pd.DataFrame(
                {
                    "query_id": np.tile(np.array(qids), n),
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), m),
                    "cos_sim": s.ravel(),
                }
            )

    scored = (
        stream_embeddings(spark, sf_dir)
        .filter(F.col("vec_id") >= KNN_BATCH_QUERIES)
        .mapInPandas(score, "query_id long, vec_id long, cos_sim double")
    )
    tbl = _fresh("stream_knn")
    run_to_memory(running_topk(scored, KNN_K), tbl, mode="append")
    t = spark.table(tbl)
    w = "PARTITION BY query_id ORDER BY n DESC"
    return (
        t.withColumn("maxn", F.expr(f"max(n) OVER ({w})"))
        .filter(F.col("n") == F.col("maxn"))
        .select("query_id", "rk", "vec_id", "cos_sim")
    )


def _knn_oracle() -> str:
    from rosbag2parquet_spark.functions.similarity import ORACLE_KNN_BATCH

    return ORACLE_KNN_BATCH


def q_stream_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED IVF serve stack LIVE — the streaming twin of `knn-ivf`
    (the index a fleet's ingest keeps warm): the coarse quantizer is
    FROZEN (the batch k-means fit — production trains once and ships it),
    the fixed query probes its IVF_NPROBE cells once driver-side, and
    corpus vectors STREAM in. A stateless Arrow stage assigns each
    arriving vector its cell with the SAME integer-quantized argmin as
    batch and drops everything OUTSIDE the probed cells before any
    scoring — only ~nprobe/K of the stream pays the cosine, which is the
    IVF economics applied to ingest — then a per-query stateful top-k
    maintains the running answer (commutative merge: any arrival order
    converges). Batch `knn-ivf`'s oracle verbatim; the finishing query
    keeps the last emission and re-attaches labels from the tiny batch
    dim (broadcast)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.functions.kmeans import kmeans_fit_cached
    from rosbag2parquet_spark.functions.similarity import (
        KNN_K,
        KNN_QUERY_ID,
        _ivf_probe_cells,
    )
    from rosbag2parquet_spark.sources.catalog import load_table
    from rosbag2parquet_spark.streaming.stateful import running_topk

    raw = load_table(spark, sf_dir, "embeddings")
    cells, _ = _ivf_probe_cells(spark, sf_dir, raw)
    centroids, _ = kmeans_fit_cached(spark, sf_dir)
    C = np.array(centroids, dtype=np.float64)
    probe = np.array(sorted(cells), dtype=np.int64)
    qe = np.asarray(
        raw.filter(F.col("vec_id") == KNN_QUERY_ID).collect()[0][
            "embedding"
        ],
        dtype=np.float64,
    )
    qn = qe / np.linalg.norm(qe)

    def score(batches):
        from rosbag2parquet_spark.functions.kmeans import argmin_quantized_np

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            E = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf["embedding"]]
            )
            # frozen-quantizer assignment: the batch argmin kernel verbatim
            cell = argmin_quantized_np(E, C)
            mask = np.isin(cell, probe) & (ids != KNN_QUERY_ID)
            if not mask.any():
                continue
            V = E[mask]
            V = V / np.linalg.norm(V, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "query_id": np.full(int(mask.sum()), KNN_QUERY_ID),
                    "vec_id": ids[mask],
                    "cos_sim": np.round(V @ qn, 6),
                }
            )

    scored = stream_embeddings(spark, sf_dir).mapInPandas(
        score, "query_id long, vec_id long, cos_sim double"
    )
    tbl = _fresh("stream_knn_ivf")
    run_to_memory(running_topk(scored, KNN_K), tbl, mode="append")
    t = spark.table(tbl)
    last = (
        t.withColumn(
            "maxn", F.expr("max(n) OVER (PARTITION BY query_id)")
        )
        .filter(F.col("n") == F.col("maxn"))
        .select("vec_id", "cos_sim")
    )
    return last.join(
        F.broadcast(raw.select("vec_id", "label")), "vec_id"
    ).select("vec_id", "label", "cos_sim")


def _knn_ivf_oracle() -> str:
    from rosbag2parquet_spark.functions.similarity import ORACLES as _SIM

    return _SIM["knn-ivf"]


def q_stream_knn_ivfadc(
    spark: SparkSession,
    sf_dir: str,
    nprobe: "int | None" = None,
    shortlist: "int | None" = None,
) -> DataFrame:
    """INCREMENTAL IVFADC index maintenance — the missing piece of the
    streaming ANN story (SURVEY §7.1 r11 #7): `stream-knn-ivf` keeps a
    LIVE top-k but re-reads float vectors; a production IVFADC ingest
    instead APPENDS CODES for each arriving vector under the FROZEN
    quantizer (FAISS's add_with_ids posture: coarse centroids, ncent,
    and residual codebooks train once and ship — arrivals never retrain).

    One stateless Arrow stage per arriving vector replicates the batch
    encode bit-for-bit (the pinned vectorized tiers' arithmetic:
    sequential-fold normalize, raw-space integer-quantized coarse argmin,
    residual against the exact-decimal ncent, per-subspace code argmins)
    and scores it with the SAME frozen ADC literals the batch serve uses
    (per-cell constant + PQ_M LUT lookups, fixed addition order) — rows
    outside the probed cells drop BEFORE any scoring, so only ~nprobe/K
    of the stream pays the encode+score. A running top-PQ_SHORTLIST state
    (commutative merge, (score DESC, vec_id) — the batch shortlist rule)
    IS the live index's answer set; the finishing query re-ranks the
    final shortlist by exact cosine over the original vectors, exactly
    like the batch `_shortlist_rerank` stage 2. Codes equal the batch
    index's codes, the shortlist equals the batch shortlist, so batch
    `knn-ivfadc`'s oracle is shared VERBATIM — the driver row proves
    live-appended codes serve the identical answer to a rebuilt index.

    ``nprobe`` is the same per-QUERY probe-depth override the batch
    serve takes (`_ivfadc_search`): a deeper live serve admits one more
    ranked cell's arrivals into the encode+score stage — the stored
    quantizer, the state shape, and the registered query (deployed
    depth) are untouched. Live-at-np4 == batch-at-np4 is test-pinned.
    ``shortlist`` mirrors the batch serve's second per-query knob (r12):
    a deeper running top-N state keeps more ADC candidates for the
    final exact re-rank — again only a serve parameter; live-at-(np4,
    sl100) == batch-at-(np4, sl100) is test-pinned the same way."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.functions.pq import PQ_SHORTLIST, _exact_rerank
    from rosbag2parquet_spark.streaming.stateful import running_topk

    scored = _ivfadc_scored_stream(spark, sf_dir, nprobe)
    tbl = _fresh("stream_knn_ivfadc")
    depth = PQ_SHORTLIST if shortlist is None else shortlist
    run_to_memory(running_topk(scored, depth), tbl, mode="append")
    t = spark.table(tbl)
    sl = (
        t.withColumn("maxn", F.expr("max(n) OVER (PARTITION BY query_id)"))
        .filter(F.col("n") == F.col("maxn"))
        .select("vec_id")
    )
    # batch stage 2 (the shared helper): exact cosine over the ORIGINAL
    # vectors for the shortlist only
    return _exact_rerank(spark, sf_dir, sl)


def _ivfadc_scored_stream(
    spark: SparkSession,
    sf_dir: str,
    nprobe: "int | None" = None,
    rotated: bool = False,
    source: "DataFrame | None" = None,
) -> DataFrame:
    """The shared ingest kernel of the live IVFADC serves: one stateless
    Arrow stage per arriving vector — frozen coarse argmin, probe-cell
    drop BEFORE any scoring, bit-pinned encode, ADC score with the
    batch serve's frozen constants — yielding (query_id, vec_id,
    cos_sim) rows. `stream-knn-ivfadc` keeps a running top-N over it;
    `stream-ivfadc-delete` appends it as the live scored log and
    excludes tombstones at query time; `stream-ivfadc-cutover` runs it
    in the NEW index's basis over the migrated slice of the stream.

    ``rotated`` moves the whole scoring chain to the learned-OPQ basis
    (the r12 cutover's NEW index): ncent/books/LUTs/cell-constants come
    from the rotated fit, the query representation from the rotated
    `_pq_frame`, and the kernel applies the batch's exact QUANTIZED
    rotation (floor(x·r·1e12) int64 sums — `_norm_codes_vectorized`'s
    arithmetic verbatim) after the normalize fold; the coarse argmin
    stays raw-space, exactly like the batch fit (rotation never moves a
    vector between cells). ``source`` overrides the arrival stream
    (default: the staged embeddings stream) — the cutover twin feeds
    only the migrated slice through the new-basis kernel."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.functions.kmeans import kmeans_fit_cached
    from rosbag2parquet_spark.functions.pq import (
        PQ_M,
        PQ_SUB,
        _ivfadc_cell_consts,
        _ivfadc_fit,
        _pq_frame,
        _query_lut_values,
        opq_rotation,
        rotate_quantized_np,
    )
    from rosbag2parquet_spark.functions.similarity import KNN_QUERY_ID

    cells, ncent, _, books = _ivfadc_fit(spark, sf_dir, rotated)
    if nprobe is not None:
        from rosbag2parquet_spark.functions.similarity import (
            _ivf_probe_cells,
        )
        from rosbag2parquet_spark.sources.catalog import load_table

        cells, _ = _ivf_probe_cells(
            spark, sf_dir, load_table(spark, sf_dir, "embeddings"), nprobe
        )
    centroids, _ = kmeans_fit_cached(spark, sf_dir)
    qen = [
        float(x)
        for x in _pq_frame(spark, sf_dir, rotated=rotated)
        .filter(F.col("vec_id") == KNN_QUERY_ID)
        .select("en")
        .collect()[0]["en"]
    ]
    # the frozen serve constants — the batch serve's values via the
    # shared helpers, so engine/stream/oracle can never desync
    luts = [
        np.array(v, dtype=np.float64)
        for v in _query_lut_values(books, qen)
    ]
    consts = np.array(_ivfadc_cell_consts(ncent, qen), dtype=np.float64)
    C = np.array(centroids, dtype=np.float64)
    NC = np.array(ncent, dtype=np.float64)
    B = [np.array(b, dtype=np.float64) for b in books]
    R = np.array(opq_rotation(), dtype=np.float64) if rotated else None
    probe = np.array(sorted(int(c) for c in cells), dtype=np.int64)

    def encode_and_score(batches):
        from rosbag2parquet_spark.functions.kmeans import argmin_quantized_np

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            E = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf["embedding"]]
            )
            # frozen coarse quantizer: the batch argmin kernel verbatim
            cell = argmin_quantized_np(E, C)
            mask = np.isin(cell, probe) & (ids != KNN_QUERY_ID)
            if not mask.any():
                continue
            Em, cm = E[mask], cell[mask]
            # the batch normalize fold (sequential, vectorized over rows)
            acc = np.zeros(Em.shape[0], dtype=np.float64)
            for i in range(Em.shape[1]):
                acc = acc + Em[:, i] * Em[:, i]
            X = Em / np.sqrt(acc)[:, None]
            if R is not None:
                # the batch quantized rotation — the ONE shared kernel
                # (pq.rotate_quantized_np), so the live encode lands in
                # bit-identical rotated coordinates by construction
                X = rotate_quantized_np(X, R)
            Res = X - NC[cm]  # residual vs the frozen exact-decimal ncent
            # append-time encode: per-subspace runs of the same argmin
            # kernel (the stored index grows by (cluster, c0..c{M-1}))
            adc = consts[cm].copy()
            for m in range(PQ_M):
                codes = argmin_quantized_np(
                    Res[:, m * PQ_SUB:(m + 1) * PQ_SUB], B[m]
                )
                adc = adc + luts[m][codes]  # batch's fixed addition order
            yield pd.DataFrame(
                {
                    "query_id": np.full(int(mask.sum()), KNN_QUERY_ID),
                    "vec_id": ids[mask],
                    "cos_sim": adc,
                }
            )

    src = stream_embeddings(spark, sf_dir) if source is None else source
    return src.mapInPandas(
        encode_and_score, "query_id long, vec_id long, cos_sim double"
    )


def q_stream_ivfadc_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE index deletion — the streaming twin of batch `ivfadc-delete`
    (the lifecycle triple's third op, live): ADDS and TOMBSTONES both
    arrive on streams, and the serve is correct under ANY interleaving —
    including a delete arriving long after its add — because deletion is
    a serve-time BITMAP, not a state mutation (Lucene's deleted-docs /
    FAISS's IDSelector posture). The add stream runs the shared ingest
    kernel (`_ivfadc_scored_stream`: probe-cell drop before scoring,
    bit-pinned encode+ADC) and APPENDS the scored rows — this log is the
    live index's probed slice for the fixed query; nothing is evicted at
    ingest, which is exactly what makes retroactive deletion exact (a
    tombstoned row inside any running top-N would have to be replaced by
    the (N+1)th candidate the eviction already discarded). The tombstone
    stream appends bare vec_ids. The finishing query anti-joins the
    tombstone set, cuts the batch shortlist (score DESC, vec_id — the
    same deterministic rule), and exact-re-ranks: batch `ivfadc-delete`'s
    oracle VERBATIM, so the driver row proves add/delete interleave ==
    rebuild-without-the-deleted. Stream==batch is also test-pinned."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.functions.pq import (
        DELETE_MOD,
        _exact_rerank,
        _stage1_shortlist,
    )

    from rosbag2parquet_spark.streaming.windowed import run_all_to_memory

    scored = _ivfadc_scored_stream(spark, sf_dir)
    tbl = _fresh("stream_ivfadc_del_scored")
    # the tombstone channel: delete commands for the DELETE_MOD slice
    # arrive as their own stream (in production a CDC topic; here the
    # same landing replayed as commands — arrival order vs adds is
    # irrelevant by the bitmap argument above)
    tomb = (
        stream_embeddings(spark, sf_dir)
        .select("vec_id")
        .filter((F.col("vec_id") % DELETE_MOD) == 0)
    )
    tomb_tbl = _fresh("stream_ivfadc_del_tomb")
    # the two drains are independent (separate sinks, same static staged
    # source) — run them CONCURRENTLY so the query pays one micro-batch
    # floor, not two (guide §2.6; r14)
    run_all_to_memory(
        [(scored, tbl, "append"), (tomb, tomb_tbl, "append")]
    )
    live = spark.table(tbl).join(
        spark.table(tomb_tbl), "vec_id", "left_anti"
    )
    # the batch shortlist rule verbatim — the shared cut, never inlined
    return _exact_rerank(spark, sf_dir, _stage1_shortlist(live, "cos_sim"))


def q_stream_ivfadc_cutover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE serve DURING a quantizer re-train — the streaming twin of
    batch `ivfadc-cutover` and the last index-lifecycle op without one
    (add/delete/re-tune all have live twins since r11–r12): the
    ZERO-DOWNTIME migration, where vectors being migrated arrive on a
    stream and encode into the NEW (learned-OPQ) index while the
    un-migrated slice keeps serving from the OLD (identity) stored
    index — one query surface over both, at every point of the
    migration.

    The migrated slice (the batch row's deterministic `vec_id %
    CUTOVER_MOD == 0`) flows through the shared ingest kernel in the
    NEW basis (`_ivfadc_scored_stream(rotated=True)`: raw-space coarse
    argmin — rotation never moves a vector between cells, so the probe
    set prunes identically — then the batch's exact quantized rotation,
    residual vs the rotated ncent, frozen rotated codebooks/LUTs/cell
    constants) and APPENDS its scored rows; probe-cell drop happens
    before any scoring, exactly like every live serve. The old side
    never streams: its rows are by definition the ones NOT yet
    migrated, served from the stored identity index's stage-1 scan
    (`_ivfadc_stage1(rotated=False)`, tombstoning the migrated copies —
    dedupe-by-vec_id is structural, each vector served by exactly the
    index that holds it). The live new-side shortlist cuts the scored
    log by the batch rule (score DESC, vec_id), unions with the old
    shortlist, and ONE shared exact re-rank finishes — batch
    `_ivfadc_cutover_search` term for term, so batch `ivfadc-cutover`'s
    two-chain oracle is shared VERBATIM and stream == batch is
    test-pinned. At 100 TB this is the cutover runbook: re-encode
    slices stream into the new index with zero serve downtime, and the
    answer at any interleaving equals the frozen mid-migration state."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.functions.pq import (
        CUTOVER_MOD,
        _exact_rerank,
        _ivfadc_stage1,
        _stage1_shortlist,
    )

    migrating = stream_embeddings(spark, sf_dir).filter(
        (F.col("vec_id") % CUTOVER_MOD) == 0
    )
    scored = _ivfadc_scored_stream(
        spark, sf_dir, rotated=True, source=migrating
    )
    tbl = _fresh("stream_ivfadc_cutover")
    run_to_memory(scored, tbl, mode="append")
    # the batch shortlist rule verbatim — the shared cut, never inlined
    sl_new = _stage1_shortlist(spark.table(tbl), "cos_sim")
    base_o, score_o = _ivfadc_stage1(spark, sf_dir, rotated=False)
    sl_old = _stage1_shortlist(
        base_o.filter((F.col("vec_id") % CUTOVER_MOD) != 0), score_o
    )
    return _exact_rerank(
        spark, sf_dir, sl_old.unionByName(sl_new).distinct()
    )


def _ivfadc_delete_oracle() -> str:
    from rosbag2parquet_spark.functions.pq import ORACLES as _PQ

    return _PQ["ivfadc-delete"]


def _ivfadc_cutover_oracle() -> str:
    from rosbag2parquet_spark.functions.pq import ORACLES as _PQ

    return _PQ["ivfadc-cutover"]


def _knn_ivfadc_oracle() -> str:
    from rosbag2parquet_spark.functions.pq import ORACLES as _PQ

    return _PQ["knn-ivfadc"]


def q_stream_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PPS corpus sampler LIVE — the training-data primitive batch
    `weighted-sample` proves, run against an unbounded landing stream:
    each arriving document computes its Sequential-Poisson priority with
    the SAME Catalyst expression as batch (one IEEE division of exact
    integers — bit-identical cross-engine), and a running BOTTOM-K keeps
    the K smallest (priority, doc_id). Bottom-K maintenance is
    commutative, so ANY arrival order converges to the batch sample —
    and a chosen document's priority never changes as more data arrives,
    the order-sampling property that makes the live sampler sound.
    Implemented over the shared top-k state by negating the priority
    (IEEE negation is exact, so the round-trip is bit-exact and the
    (-sims, ids) state ordering IS batch's (priority, doc_id)). Batch
    `weighted-sample`'s oracle verbatim; lang/n_chars re-attach from the
    tiny batch dim."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.functions.sampling import _WS_K, _WS_PRIORITY
    from rosbag2parquet_spark.sources.catalog import load_table
    from rosbag2parquet_spark.streaming.neardup import stream_documents
    from rosbag2parquet_spark.streaming.stateful import running_topk

    docs = stream_documents(spark, sf_dir).filter(
        F.col("n_chars").isNotNull() & (F.col("n_chars") > 0)
    )
    scored = docs.select(
        F.lit(0).cast("long").alias("query_id"),
        F.col("doc_id").alias("vec_id"),
        (-F.expr(_WS_PRIORITY)).alias("cos_sim"),
    )
    tbl = _fresh("stream_wsample")
    run_to_memory(running_topk(scored, _WS_K), tbl, mode="append")
    t = spark.table(tbl)
    last = (
        t.withColumn("maxn", F.expr("max(n) OVER (PARTITION BY query_id)"))
        .filter(F.col("n") == F.col("maxn"))
        .select(
            F.col("vec_id").alias("doc_id"),
            (-F.col("cos_sim")).alias("priority"),
        )
    )
    dim = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return last.join(F.broadcast(dim), "doc_id").select(
        "doc_id", "lang", "n_chars", "priority"
    )


def _weighted_sample_oracle() -> str:
    from rosbag2parquet_spark.functions.sampling import (
        ORACLE_WEIGHTED_SAMPLE,
    )

    return ORACLE_WEIGHTED_SAMPLE


def q_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EWMA filter running LIVE: per-entity state is one (ordinal,
    smoothed value) pair — the O(1) telemetry-smoothing shape; emissions
    reproduce batch `ewma` exactly (same fixed-point step, same order
    key), so it carries the same recursive-CTE oracle."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.operators.asof import EWMA_SCALE
    from rosbag2parquet_spark.streaming.stateful import running_ewma

    events = stream_events(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        F.col("event_id").alias("eid"),
        F.floor(F.col("value") * EWMA_SCALE).cast("long").alias("x"),
    )
    tbl = _fresh("stream_ewma")
    run_to_memory(running_ewma(events), tbl, mode="append")
    return spark.table(tbl)


def _ewma_oracle() -> str:
    from rosbag2parquet_spark.operators.asof import ORACLE_EWMA

    return ORACLE_EWMA


def q_stream_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental as-of join: quotes (orders) and probes (events) arrive
    interleaved as TWO file streams unioned onto one keyed log; per-user
    state is the single carried quote (applyInPandasWithState) and each
    probe emits with it — the batch union-and-carry-forward plan
    incrementalized with O(1) state per key. Same output columns and the
    SAME oracle as batch `asof` (left semantics: a probe before any quote
    emits NULLs). Neither stream sets maxFilesPerTrigger, so the staged
    fixture pair lands in one micro-batch; cross-batch ordering is the
    keyed-log contract (test-pinned in tests/test_stateful.py)."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.streaming.stateful import running_asof

    events = stream_events(spark, sf_dir)
    orders = stream_orders(spark, sf_dir)
    quotes = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.unix_micros("o_orderdate").alias("t_us"),
        F.lit(0).alias("side"),
        F.lit(-1).cast("long").alias("event_id"),
        F.col("o_orderkey").alias("okey"),
        F.col("o_totalprice").alias("price"),
    )
    probes = events.select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.lit(1).alias("side"),
        "event_id",
        F.lit(-1).cast("long").alias("okey"),
        F.lit(0.0).alias("price"),
    )
    tbl = _fresh("stream_asof")
    run_to_memory(running_asof(quotes.unionByName(probes)), tbl, mode="append")
    return spark.table(tbl).select(
        "event_id", "user_id", "ts_us", "last_orderkey", "last_order_price"
    )


def _asof_oracle() -> str:
    from rosbag2parquet_spark.operators.asof import ORACLE_ASOF

    return ORACLE_ASOF


def q_stream_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous ANALYZE — the streaming twin of `analyze-table` scoped
    to its O(1)-state measures: per-column row/non-null counts and
    min/max maintained as ONE streaming aggregate whose state is a single
    row per column (CONSTANT regardless of stream length — the stats
    monitor that can run forever beside the landing directory). Arriving
    rows unpivot map-side via ``stack`` into (col_name, nval, sval)
    triples, so the stateful agg itself is the plain mergeable min/max/
    count form Catalyst incrementalizes exactly. Exact NDV is
    deliberately batch-only (its exact form needs per-value state; the
    mergeable sketch alternative is `hll-sketch`). Same oracle shape as
    the batch ANALYZE: the final table must equal DuckDB's per-column
    stats over the whole fixture."""
    from pyspark.sql import functions as F

    ev = stream_events(spark, sf_dir)
    trip = ev.selectExpr(
        "stack(4, "
        "'event_id', CAST(event_id AS DOUBLE), CAST(NULL AS STRING), "
        "'user_id', CAST(user_id AS DOUBLE), CAST(NULL AS STRING), "
        "'value', CAST(value AS DOUBLE), CAST(NULL AS STRING), "
        "'event_type', CAST(NULL AS DOUBLE), event_type"
        ") AS (col_name, nval, sval)"
    )
    agg = trip.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count("nval") + F.count("sval")).alias("n_nonnull"),
        F.min("nval").alias("min_num"),
        F.max("nval").alias("max_num"),
        F.min("sval").alias("min_str"),
        F.max("sval").alias("max_str"),
    )
    tbl = _fresh("stream_analyze")
    run_to_memory(agg, tbl, mode="complete")
    return spark.table(tbl).orderBy("col_name")


_STREAM_ANALYZE_NUM = ("event_id", "user_id", "value")

ORACLE_STREAM_ANALYZE = " UNION ALL ".join(
    [
        f"SELECT '{c}' AS col_name,"
        " CAST(count(*) AS BIGINT) AS n_rows,"
        f" CAST(count({c}) AS BIGINT) AS n_nonnull,"
        f" CAST(min({c}) AS DOUBLE) AS min_num,"
        f" CAST(max({c}) AS DOUBLE) AS max_num,"
        " CAST(NULL AS VARCHAR) AS min_str,"
        " CAST(NULL AS VARCHAR) AS max_str FROM events"
        for c in _STREAM_ANALYZE_NUM
    ]
    + [
        "SELECT 'event_type' AS col_name,"
        " CAST(count(*) AS BIGINT) AS n_rows,"
        " CAST(count(event_type) AS BIGINT) AS n_nonnull,"
        " CAST(NULL AS DOUBLE) AS min_num,"
        " CAST(NULL AS DOUBLE) AS max_num,"
        " min(event_type) AS min_str,"
        " max(event_type) AS max_str FROM events"
    ]
)


def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel maintained LIVE: per-user ordered-stage state (three
    stage timestamps, O(1) per key) advanced as events arrive under the
    keyed-log contract — the conversion dashboard that updates per
    micro-batch instead of rescanning history. Stage flags are monotone,
    so max-per-user over the update-mode emissions is the final funnel
    position; the 3-scalar reduce then matches batch `funnel` and carries
    its oracle."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.streaming.stateful import running_funnel

    events = stream_events(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
    )
    tbl = _fresh("stream_funnel")
    run_to_memory(running_funnel(events), tbl, mode="update")
    per_user = spark.table(tbl).groupBy("user_id").agg(
        F.max("s1").alias("s1"),
        F.max("s2").alias("s2"),
        F.max("s3").alias("s3"),
    )
    return per_user.agg(
        F.sum("s1").cast("long").alias("n_view"),
        F.sum("s2").cast("long").alias("n_view_click"),
        F.sum("s3").cast("long").alias("n_full_funnel"),
    )


def validate_rules_agg(ev: DataFrame) -> DataFrame:
    """The four row-local rules as ONE global aggregate (shared by the
    registered query and the cross-batch unit test): a single counter row
    is the entire streaming state."""
    from pyspark.sql import functions as F

    def viol(cond) -> "F.Column":
        # NULL predicate input counts as not-violating (count(*) FILTER)
        return F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))).cast("long")

    return ev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        viol(F.col("event_id").isNull()).alias("v_null"),
        viol(~F.col("value").between(0, 100)).alias("v_range"),
        viol(
            ~F.col("event_type").isin("view", "click", "purchase", "signup")
        ).alias("v_set"),
        viol(F.col("value") <= 0).alias("v_sign"),
    )


#: (rule label, violation counter) — shared by query and test
VALIDATE_RULES = [
    ("completeness:event_id", "v_null"),
    ("positive:value", "v_sign"),
    ("range:value:[0,100]", "v_range"),
    ("set:event_type:known4", "v_set"),
]


def validate_verdicts(wide: DataFrame) -> DataFrame:
    parts = ", ".join(f"'{r}', n, {v}, {v} = 0" for r, v in VALIDATE_RULES)
    return wide.selectExpr(
        f"stack({len(VALIDATE_RULES)}, {parts})"
        " AS (rule, checked, violations, ok)"
    ).orderBy("rule")


def q_stream_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous data-quality monitoring — the streaming twin of
    `validate-constraints` scoped to its ROW-LOCAL rule class
    (completeness / range / set membership / sign): the four rules fold
    into ONE streaming global aggregate whose state is a single row of
    counters — O(1) for any stream length, the quality gate that can run
    forever beside a landing directory and trip an alert the micro-batch
    a bad producer deploys. Uniqueness and referential integrity stay
    batch-only by design (their exact forms need per-key state; the keyed
    incremental analog is `stream-dedup`'s state posture). Verdicts
    unpivot AFTER the sink so the stateful plan is the plain mergeable
    sum/count form Catalyst incrementalizes exactly; same
    ``(rule, checked, violations, ok)`` shape as the batch gate, oracle
    over the whole fixture. The range and set rules genuinely FAIL on the
    fixture (value tops out ~490; event_type includes 'error') so both
    verdict paths are live end-to-end."""
    agg = validate_rules_agg(stream_events(spark, sf_dir))
    tbl = _fresh("stream_validate")
    run_to_memory(agg, tbl, mode="complete")
    return validate_verdicts(spark.table(tbl))


ORACLE_STREAM_VALIDATE = """
SELECT * FROM (
SELECT 'completeness:event_id' AS rule,
       CAST(count(*) AS BIGINT) AS checked,
       CAST(count(*) FILTER (WHERE event_id IS NULL) AS BIGINT) AS violations,
       count(*) FILTER (WHERE event_id IS NULL) = 0 AS ok
FROM events
UNION ALL
SELECT 'positive:value', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE value <= 0) AS BIGINT),
       count(*) FILTER (WHERE value <= 0) = 0
FROM events
UNION ALL
SELECT 'range:value:[0,100]', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE NOT value BETWEEN 0 AND 100) AS BIGINT),
       count(*) FILTER (WHERE NOT value BETWEEN 0 AND 100) = 0
FROM events
UNION ALL
SELECT 'set:event_type:known4', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (
           WHERE event_type NOT IN ('view','click','purchase','signup')
       ) AS BIGINT),
       count(*) FILTER (
           WHERE event_type NOT IN ('view','click','purchase','signup')
       ) = 0
FROM events
) ORDER BY rule
"""


def q_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift monitored LIVE — the stream-static twin of
    `drift-detect`: the reference epoch's per-type counts are a STATIC
    frame computed once (the training-set mix you shipped), the current
    epoch streams through ONE per-type counting aggregate (state = |types|
    rows, O(1) for any stream length), and each refresh compares the live
    mix against the frozen reference in the same integer basis points —
    the alarm that fires the micro-batch a producer's mix shifts, without
    ever rescanning the reference. The epoch boundary is a 2-scalar
    driver snapshot (the z-order min/max posture); the final comparison
    is a full outer join on the tiny type dim so appearing/disappearing
    categories row out. Shares `drift-detect`'s oracle verbatim — the
    live monitor must converge to exactly the batch answer."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.operators.quality import DRIFT_BPS_SQL
    from rosbag2parquet_spark.sources.catalog import load_table

    ev_b = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("t_us")
    )
    # epoch boundary memoized per (applicationId, sf_dir): deploy-time
    # config, one 2-scalar reduce on first use (see _fixture_scalars)
    lo, hi = _fixture_scalars(
        spark,
        sf_dir,
        "drift_epoch_bounds",
        lambda: tuple(ev_b.agg(F.min("t_us"), F.max("t_us")).collect()[0]),
    )
    mid = (lo + hi) // 2
    # the frozen reference mix itself (|types| rows) is deploy-time
    # config too — memoized as collected rows, rebuilt as a local
    # relation, so a refresh never re-scans the reference epoch
    ref_rows = _fixture_scalars(
        spark,
        sf_dir,
        "drift_ref_mix",
        lambda: [
            (r["event_type"], int(r["n1"]))
            for r in ev_b.filter(F.col("t_us") < mid)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n1"))
            .collect()
        ],
    )
    ref = spark.createDataFrame(ref_rows, "event_type string, n1 long")

    cur = (
        stream_events(spark, sf_dir)
        .filter(F.unix_micros("ts") >= F.lit(mid))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n2"))
    )
    tbl = _fresh("stream_drift")
    run_to_memory(cur, tbl, mode="complete")

    cells = (
        ref.join(spark.table(tbl), "event_type", "full_outer")
        .select(
            "event_type",
            F.coalesce("n1", F.lit(0)).cast("long").alias("n1"),
            F.coalesce("n2", F.lit(0)).cast("long").alias("n2"),
        )
    )
    # window totals over the |types|-row cells frame: the former
    # cells.agg(...) crossJoin evaluated the cells subtree twice — each
    # evaluation re-scanned the batch events table for ref (r14, guide
    # §2.4 duplicated subtrees); one single-partition exchange of tiny
    # rows computes identical integer sums
    return (
        cells.select(
            "event_type",
            "n1",
            "n2",
            F.expr("sum(n1) OVER ()").alias("t1"),
            F.expr("sum(n2) OVER ()").alias("t2"),
        )
        .select(
            "event_type",
            "n1",
            "n2",
            F.expr(DRIFT_BPS_SQL).alias("drift_bps"),
        )
        .orderBy("event_type")
    )


def _drift_oracle() -> str:
    from rosbag2parquet_spark.operators.quality import ORACLE_DRIFT_DETECT

    return ORACLE_DRIFT_DETECT


def q_stream_numeric_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-feature drift monitored LIVE — the stream-static twin of
    `drift-numeric`, completing the monitoring trio's live coverage: the
    REFERENCE epoch's value histogram (10 equal-width buckets anchored to
    its own [min, max]) is a static frame computed once — the
    distribution the training set shipped with; the current epoch streams
    through ONE per-bucket counting aggregate (state <= 10 bucket rows,
    O(1) for any stream length), and each refresh compares live mass
    against the frozen reference in the same overflow-safe integer basis
    points. The epoch boundary and reference range are driver scalar
    snapshots (the z-order min/max posture); out-of-range live values
    CLAMP into the edge buckets — which is the alarm, not an error.
    Shares `drift-numeric`'s oracle verbatim — the live monitor must
    converge to exactly the batch answer."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.operators.quality import DRIFT_BPS_SQL
    from rosbag2parquet_spark.sources.catalog import load_table

    ev_b = load_table(spark, sf_dir, "events").select(
        F.col("value").cast("double").alias("v"),
        F.unix_micros("ts").alias("t_us"),
    )
    # epoch boundary + reference value range memoized per (applicationId,
    # sf_dir): deploy-time config, two reduces on first use
    lo, hi = _fixture_scalars(
        spark,
        sf_dir,
        "ndrift_epoch_bounds",
        lambda: tuple(ev_b.agg(F.min("t_us"), F.max("t_us")).collect()[0]),
    )
    mid = (lo + hi) // 2
    v_lo, v_hi = _fixture_scalars(
        spark,
        sf_dir,
        "ndrift_ref_range",
        lambda: (
            lambda r: (float(r[0]), float(r[1]))
        )(ev_b.filter(F.col("t_us") < mid).agg(F.min("v"), F.max("v")).collect()[0]),
    )
    # repr round-trips the exact double, so the literal-rebuilt bucket
    # expression computes the SAME bucket as the batch broadcast form
    bucket_sql = (
        f"CAST(coalesce(greatest(0, least(9,"
        f" floor((v - {v_lo!r}D) * 10"
        f" / nullif({v_hi!r}D - {v_lo!r}D, 0.0d)))), 0) AS BIGINT)"
    )

    # frozen reference histogram (≤10 rows) memoized as collected rows —
    # same deploy-time-config posture as the bounds above
    ref_rows = _fixture_scalars(
        spark,
        sf_dir,
        "ndrift_ref_hist",
        lambda: [
            (int(r["bucket"]), int(r["n1"]))
            for r in ev_b.filter(F.col("t_us") < mid)
            .select(F.expr(bucket_sql).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n1"))
            .collect()
        ],
    )
    ref = spark.createDataFrame(ref_rows, "bucket long, n1 long")

    cur = (
        stream_events(spark, sf_dir)
        .filter(F.unix_micros("ts") >= F.lit(mid))
        .select(F.col("value").cast("double").alias("v"))
        .select(F.expr(bucket_sql).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n2"))
    )
    tbl = _fresh("stream_numeric_drift")
    run_to_memory(cur, tbl, mode="complete")

    cells = ref.join(spark.table(tbl), "bucket", "full_outer").select(
        "bucket",
        F.coalesce("n1", F.lit(0)).cast("long").alias("n1"),
        F.coalesce("n2", F.lit(0)).cast("long").alias("n2"),
    )
    # window totals over the ≤10-bucket cells frame — same duplicated-
    # subtree fix as stream-drift (the crossJoin form re-scanned events
    # for ref under the broadcast side)
    return (
        cells.select(
            "bucket",
            "n1",
            "n2",
            F.expr("sum(n1) OVER ()").alias("t1"),
            F.expr("sum(n2) OVER ()").alias("t2"),
        )
        .select("bucket", "n1", "n2", F.expr(DRIFT_BPS_SQL).alias("drift_bps"))
        .orderBy("bucket")
    )


def _numeric_drift_oracle() -> str:
    from rosbag2parquet_spark.operators.quality import ORACLE_DRIFT_NUMERIC

    return ORACLE_DRIFT_NUMERIC


def q_stream_volume_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type volume trend monitored LIVE — the dying-sensor /
    runaway-producer alarm as a continuous query: the stream folds into
    ONE (event_type, hour) counting aggregate — state is one row per
    type-hour, bounded by the monitored TIME SPAN (|types| x |hours|),
    not by stream length — and each refresh re-runs the closed-form
    BIGINT OLS over that tiny state table (the exact batch re-aggregation
    over at most a few thousand rows). The min-hour rebase is one driver
    scalar snapshot. Shares `volume-trend`'s oracle verbatim."""
    from pyspark.sql import functions as F

    from rosbag2parquet_spark.sources.catalog import load_table

    ev_b = load_table(spark, sf_dir, "events")
    # min(floor(t/h)) == floor(min(t)/h): floor division is monotone;
    # rebase hour memoized per (applicationId, sf_dir) — deploy-time config
    t0 = _fixture_scalars(
        spark,
        sf_dir,
        "volume_trend_t0",
        lambda: ev_b.agg(F.min(F.unix_micros("ts"))).collect()[0][0],
    )
    h0 = t0 // 3600000000

    hourly = (
        stream_events(spark, sf_dir)
        .select(
            "event_type",
            F.expr(
                "(unix_micros(ts) - pmod(unix_micros(ts), 3600000000))"
                f" div 3600000000 - {h0}"
            ).alias("x"),
        )
        .groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    tbl = _fresh("stream_volume_trend")
    run_to_memory(hourly, tbl, mode="complete")

    return (
        spark.table(tbl)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        )
        .select(
            "event_type",
            "n_hours",
            "sy",
            F.expr(
                "CAST(n_hours * sxy - sx * sy AS DOUBLE)"
                " / nullif(n_hours * sxx - sx * sx, 0)"
            ).alias("slope_per_hour"),
        )
        .orderBy("event_type")
    )


def _volume_trend_oracle() -> str:
    from rosbag2parquet_spark.operators.quality import ORACLE_VOLUME_TREND

    return ORACLE_VOLUME_TREND


#: alert-transition rule literals — the error-share ceiling (the fixture's
#: error mix hovers ~20%, so daily verdicts flip repeatedly at 2000 bps:
#: 16 edges at sf0.01 AND sf0.001) and the volume floor as a percentage of
#: the reference period's daily mean (95% → 4 edges sf0.01, 14 sf0.001);
#: both rules verdict in pure BIGINT arithmetic, cross-engine exact
ALERT_ERRSHARE_BPS = 2000
ALERT_VOLUME_PCT = 95


def q_stream_alert_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert ROUTING — what a production monitor pages on (SURVEY §7.1
    r11 #2, closing the `alert-rules` loop): not the verdict table but
    its EDGES. The stream folds into one per-day counting aggregate
    (checked + error count; state is one row per day in the monitored
    span, bounded by time not stream length), each refresh re-verdicts
    every day against two declarative rules — error share ≤
    ALERT_ERRSHARE_BPS, daily volume ≥ ALERT_VOLUME_PCT% of the frozen
    reference-period mean (deployment config: two batch-side scalars,
    the stream-drift posture) — and emits ONLY the days whose verdict
    DIFFERS from the previous day's (monitor baseline: ok), via one lag
    window over the tiny per-day verdict surface. Rows are ok→violating
    pages and violating→ok recoveries; a steady state emits nothing.
    Verdicts are integer-exact (BIGINT bps / scaled counts), so the
    oracle reproduces every edge bit-for-bit."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from rosbag2parquet_spark.sources.catalog import load_table

    # frozen monitor config: the reference period's day count and total
    # volume (one 2-scalar reduce over the batch table at deploy time) —
    # memoized per (applicationId, sf_dir) like every monitor's reference
    # snapshot (see _fixture_scalars)
    ev_b = load_table(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts) div 86400000000").alias("day")
    )

    def _cfg():
        row = (
            ev_b.groupBy("day")
            .count()
            .agg(F.count(F.lit(1)).alias("days"), F.sum("count").alias("total"))
            .collect()[0]
        )
        return int(row["days"]), int(row["total"])

    days, total = _fixture_scalars(spark, sf_dir, "alert_cfg", _cfg)

    daily = (
        stream_events(spark, sf_dir)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            )
            .cast("long")
            .alias("e"),
        )
        .select(F.unix_micros(F.col("w.start")).alias("start_us"), "c", "e")
    )
    tbl = _fresh("stream_alert_transitions")
    run_to_memory(daily, tbl, mode="complete")

    d = spark.table(tbl)
    verdicts = d.select(
        F.lit(f"errshare:<={ALERT_ERRSHARE_BPS}bps").alias("rule"),
        "start_us",
        F.expr("e * 10000 div c").cast("long").alias("measure"),
        (F.col("e") * 10000 <= F.lit(ALERT_ERRSHARE_BPS) * F.col("c")).alias(
            "ok"
        ),
    ).unionAll(
        d.select(
            F.lit(f"volume:>={ALERT_VOLUME_PCT}pct-mean").alias("rule"),
            "start_us",
            F.col("c").alias("measure"),
            (
                F.col("c") * 100 * F.lit(days) >= F.lit(ALERT_VOLUME_PCT * total)
            ).alias("ok"),
        )
    )
    w = Window.partitionBy("rule").orderBy("start_us")
    return (
        verdicts.withColumn("prev_ok", F.lag("ok").over(w))
        .filter(F.coalesce(F.col("prev_ok"), F.lit(True)) != F.col("ok"))
        .select("rule", "start_us", "measure", "ok")
        .orderBy("rule", "start_us")
    )


ORACLE_STREAM_ALERT_TRANSITIONS = f"""
WITH d AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         CAST(count(*) AS BIGINT) AS c,
         CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS e
  FROM events GROUP BY 1
), cfg AS (
  SELECT CAST(count(*) AS BIGINT) AS days, CAST(sum(c) AS BIGINT) AS total
  FROM d
), v AS (
  SELECT 'errshare:<={ALERT_ERRSHARE_BPS}bps' AS rule,
         day * 86400000000 AS start_us,
         e * 10000 // c AS measure,
         e * 10000 <= {ALERT_ERRSHARE_BPS} * c AS ok
  FROM d
  UNION ALL
  SELECT 'volume:>={ALERT_VOLUME_PCT}pct-mean', day * 86400000000, c,
         c * 100 * cfg.days >= {ALERT_VOLUME_PCT} * cfg.total
  FROM d CROSS JOIN cfg
), w AS (
  SELECT rule, start_us, measure, ok,
         lag(ok) OVER (PARTITION BY rule ORDER BY start_us) AS prev_ok
  FROM v
)
SELECT rule, start_us, measure, ok
FROM w WHERE coalesce(prev_ok, TRUE) != ok
ORDER BY rule, start_us
"""


QUERIES = {
    "stream-asof": q_stream_asof,
    "stream-validate": q_stream_validate,
    "stream-drift": q_stream_drift,
    "stream-numeric-drift": q_stream_numeric_drift,
    "stream-volume-trend": q_stream_volume_trend,
    "stream-alert-transitions": q_stream_alert_transitions,
    "stream-analyze": q_stream_analyze,
    "stream-semdedup": q_stream_semdedup,
    "stream-knn": q_stream_knn,
    "stream-ewma": q_stream_ewma,
    "stream-tumbling": q_stream_tumbling,
    "stream-sliding": q_stream_sliding,
    "stream-sessionize": q_stream_sessionize,
    "stream-neardup": q_stream_neardup,
    "stream-neardup-parity": q_stream_neardup_parity,
    "stream-sink": q_stream_sink,
    "stream-profile": q_stream_profile,
    "stream-compact": q_stream_compact,
    "stream-scd2": q_stream_scd2,
    "stream-dedup": q_stream_dedup,
    "stream-resample": q_stream_resample,
    "stream-bm25": q_stream_bm25,
    "stream-ivfadc-delete": q_stream_ivfadc_delete,
    "stream-ivfadc-cutover": q_stream_ivfadc_cutover,
    "stream-merge-upsert": q_stream_merge_upsert,
    "stream-cdc-apply": q_stream_cdc_apply,
    "stream-knn-ivf": q_stream_knn_ivf,
    "stream-knn-ivfadc": q_stream_knn_ivfadc,
    "stream-weighted-sample": q_stream_weighted_sample,
    "stream-gap-detect": q_stream_gap_detect,
    "stream-heavy-hitters": q_stream_heavy_hitters,
    "stream-funnel": q_stream_funnel,
}


def _minhash_oracle() -> str:
    from rosbag2parquet_spark.functions.dedup import ORACLES as _DEDUP_ORACLES

    return _DEDUP_ORACLES["dedup-minhash-lsh"]


def _neardup_parity_oracle() -> str:
    """DuckDB recomputes the batch candidate count from the shared CTE
    chain; parity holds iff the streamed count equals it and the symmetric
    difference is zero."""
    from rosbag2parquet_spark.functions.dedup import _MINHASH_CTES

    return (
        _MINHASH_CTES
        + """
SELECT CAST(count(*) AS BIGINT) AS n_streamed,
       CAST(count(*) AS BIGINT) AS n_batch,
       CAST(0 AS BIGINT) AS sym_diff
FROM cand
"""
    )


def _funnel_oracle() -> str:
    from rosbag2parquet_spark.operators.behavior import ORACLE_FUNNEL

    return ORACLE_FUNNEL


ORACLES = {
    "stream-asof": _asof_oracle(),
    "stream-validate": ORACLE_STREAM_VALIDATE,
    "stream-drift": _drift_oracle(),
    "stream-numeric-drift": _numeric_drift_oracle(),
    "stream-volume-trend": _volume_trend_oracle(),
    "stream-alert-transitions": ORACLE_STREAM_ALERT_TRANSITIONS,
    "stream-analyze": ORACLE_STREAM_ANALYZE,
    "stream-semdedup": _semdedup_oracle(),
    "stream-knn": _knn_oracle(),
    "stream-ewma": _ewma_oracle(),
    "stream-tumbling": batch_windows.ORACLES["window-tumbling"],
    "stream-sliding": batch_windows.ORACLES["window-sliding"],
    "stream-sessionize": batch_windows.ORACLES["sessionize"],
    "stream-neardup": _minhash_oracle(),
    "stream-neardup-parity": _neardup_parity_oracle(),
    "stream-sink": ORACLE_STREAM_SINK,
    "stream-profile": ORACLE_STREAM_PROFILE,
    "stream-compact": _compact_oracle(),
    "stream-scd2": _scd2_oracle(),
    "stream-dedup": _dedup_exact_oracle(),
    "stream-bm25": _bm25_oracle(),
    "stream-ivfadc-delete": _ivfadc_delete_oracle(),
    # the live migration must serve the frozen mid-migration state —
    # batch ivfadc-cutover's two-chain oracle verbatim
    "stream-ivfadc-cutover": _ivfadc_cutover_oracle(),
    "stream-resample": _resample_oracle(),
    "stream-merge-upsert": _merge_oracle(),
    "stream-cdc-apply": _cdc_evolve_oracle(),
    "stream-knn-ivf": _knn_ivf_oracle(),
    # live-appended codes must serve the identical answer to the
    # batch-built index — knn-ivfadc's oracle verbatim
    "stream-knn-ivfadc": _knn_ivfadc_oracle(),
    "stream-weighted-sample": _weighted_sample_oracle(),
    "stream-gap-detect": _gap_oracle(),
    "stream-heavy-hitters": _hh_oracle(),
    "stream-funnel": _funnel_oracle(),
}
