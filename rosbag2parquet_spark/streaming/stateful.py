"""Custom stateful streaming operator via ``applyInPandasWithState``
(north-star X5: "applyInPandasWithState for custom stateful operators").

Example operator: per-user running profile (event count, value sum, last
event time) maintained as explicit state and emitted on every update — the
building block for online feature stores / per-entity monitors. State is
partitioned by the group key, so it shards across executors; the watermark
(set by the caller on the input) bounds state retention.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double, last_ts_us long"
STATE_SCHEMA = "n long, total double, last_us long"


def _update_profile(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, total, last_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
        last_us = max(last_us, int(pdf["ts_us"].max()))
    state.update((n, total, last_us))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [total],
            "last_ts_us": [last_us],
        }
    )


def running_user_profile(events: DataFrame) -> DataFrame:
    """events (streaming, with `ts_us` long + `value` double) → one updated
    profile row per user per micro-batch."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_profile,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------------- streaming compaction

COMPACT_OUTPUT_SCHEMA = (
    "user_id long, last_ts_us long, last_type string, "
    "last_value double, last_event_id long"
)
COMPACT_STATE_SCHEMA = "ts_us long, event_id long, etype string, value double"


def _update_latest(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        ts_us, event_id, etype, value = state.get
    else:
        ts_us, event_id, etype, value = -1, -1, "", 0.0
    for pdf in batches:
        # argmax over (ts_us, event_id) — commutative and associative, so
        # ANY arrival order (within a batch, across batches, across
        # partitions-of-the-past) converges to the same final state
        p = pdf.sort_values(["ts_us", "event_id"]).iloc[-1]
        if (int(p.ts_us), int(p.event_id)) > (ts_us, event_id):
            ts_us, event_id = int(p.ts_us), int(p.event_id)
            etype, value = str(p.event_type), float(p.value)
    state.update((ts_us, event_id, etype, value))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "last_ts_us": [ts_us],
            "last_type": [etype],
            "last_value": [value],
            "last_event_id": [event_id],
        }
    )


def running_compaction(events: DataFrame) -> DataFrame:
    """Streaming log compaction: latest state per user, updated each
    micro-batch (the upsert view of the stream, maintained incrementally).
    State is one tuple per key — bounded by the key cardinality, not the
    stream length; unlike the funnel's ordered stages, the compaction
    reducer is an argmax, so it needs no event-order guarantee from the
    source. Input columns: user_id, ts_us, event_id, event_type, value."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_latest,
        outputStructType=COMPACT_OUTPUT_SCHEMA,
        stateStructType=COMPACT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------------- streaming SCD2

SCD2_OUTPUT_SCHEMA = (
    "user_id long, state string, valid_from long, valid_to long, version int"
)
SCD2_STATE_SCHEMA = "cur_state string, cur_from long, version int"


def _update_scd2(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Incremental SCD2 maintenance: the OPEN interval is the state; a
    state change CLOSES it (emit the closed row) and opens the next.
    Consecutive duplicates collapse exactly like the batch operator. Each
    interval is emitted once when it OPENS (valid_to = -1) and once when
    it CLOSES — the reassembly (max valid_to per version) happens in the
    finishing query. Rows within an invocation are sorted by
    (ts_us, event_id); ACROSS micro-batches the operator assumes per-key
    in-order delivery (the CDC contract — a keyed Kafka partition), the
    same assumption every incremental SCD2 materializer makes."""
    (user_id,) = key
    cur_state, cur_from, version = (
        state.get if state.exists else (None, 0, 0)
    )
    pdf = pd.concat(list(batches), ignore_index=True)
    pdf = pdf.sort_values(["ts_us", "event_id"], kind="mergesort")
    out: dict[str, list] = {
        "user_id": [], "state": [], "valid_from": [], "valid_to": [],
        "version": [],
    }

    def emit(st, frm, to, ver):
        out["user_id"].append(user_id)
        out["state"].append(st)
        out["valid_from"].append(frm)
        out["valid_to"].append(to)
        out["version"].append(ver)

    for t, _eid, etype in zip(pdf["ts_us"], pdf["event_id"], pdf["event_type"]):
        t = int(t)
        if cur_state is None:
            cur_state, cur_from, version = etype, t, 1
            emit(cur_state, cur_from, -1, version)
        elif etype != cur_state:
            emit(cur_state, cur_from, t, version)  # close
            cur_state, cur_from, version = etype, t, version + 1
            emit(cur_state, cur_from, -1, version)  # open next
    state.update((cur_state, cur_from, version))
    yield pd.DataFrame(out)


def running_scd2(events: DataFrame) -> DataFrame:
    """events (streaming, `ts_us` long + `event_id` long + `event_type`) →
    append-mode interval open/close emissions per user."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_scd2,
        outputStructType=SCD2_OUTPUT_SCHEMA,
        stateStructType=SCD2_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------------- streaming resample

RESAMPLE_OUTPUT_SCHEMA = (
    "event_type string, grid_us long, locf double, interp double"
)
RESAMPLE_STATE_SCHEMA = "prev_t long, prev_v double, pending int"

# owned by the batch resample operator (baked into ORACLE_RESAMPLE)
from rosbag2parquet_spark.operators.asof import _HOUR_US  # noqa: E402


def _update_resample(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Incremental grid fill (the streaming twin of X6
    ``resample-interpolate``): state per entity is just the LAST point.
    Each arriving event CLOSES the bracket over every grid point between
    the previous point and itself, so LOCF and the linear interpolation
    emit with both neighbors known — exactly the batch semantics, one
    emission per grid point, O(1) state.

    Tie semantics mirror the batch order key (t, is_grid, eid): a grid
    point that coincides with an event reads the LAST event at that
    instant, so an on-grid point stays PENDING until a strictly later
    event proves no same-instant override follows (then locf == interp ==
    the event's value, the batch's gap-0 identity). Interp arithmetic is
    the same IEEE ops in the same association as the batch/oracle —
    bit-identical doubles. Like the SCD2 twin, rows sort within an
    invocation; across micro-batches per-key in-order delivery is assumed
    (the keyed-log contract). The one open edge: a final grid point
    EXACTLY at the stream's last instant emits only when a later event
    arrives — the standard streaming posture (results close as the
    watermark passes), and unreachable off-hour timestamps make it moot
    at the fixtures."""
    (etype,) = key
    prev_t, prev_v, pending = (
        state.get if state.exists else (-1, 0.0, 0)
    )
    pdf = pd.concat(list(batches), ignore_index=True)
    pdf = pdf.sort_values(["ts_us", "event_id"], kind="mergesort")
    out: dict[str, list] = {
        "event_type": [], "grid_us": [], "locf": [], "interp": [],
    }

    def emit(g, locf, interp):
        out["event_type"].append(etype)
        out["grid_us"].append(g)
        out["locf"].append(locf)
        out["interp"].append(interp)

    for t, v in zip(pdf["ts_us"], pdf["value"]):
        t, v = int(t), float(v)
        if prev_t < 0:
            prev_t, prev_v = t, v
            pending = 1 if t % _HOUR_US == 0 else 0
            continue
        if t > prev_t:
            if pending:
                emit(prev_t, prev_v, prev_v)
                pending = 0
            g = (prev_t // _HOUR_US + 1) * _HOUR_US
            while g < t:
                frac = (g - prev_t) / (t - prev_t)
                emit(g, prev_v, prev_v + (v - prev_v) * frac)
                g += _HOUR_US
            prev_t, prev_v = t, v
            pending = 1 if t % _HOUR_US == 0 else 0
        else:
            # same instant, larger event_id: the batch tie rule reads the
            # LAST event at t — override the bracket point
            prev_v = v
    state.update((prev_t, prev_v, pending))
    yield pd.DataFrame(out)


def running_resample(events: DataFrame) -> DataFrame:
    """events (streaming, `ts_us` long + `event_id` long + `value` double)
    → append-mode grid-point emissions per event_type."""
    return events.groupBy("event_type").applyInPandasWithState(
        _update_resample,
        outputStructType=RESAMPLE_OUTPUT_SCHEMA,
        stateStructType=RESAMPLE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------------- streaming merge

MERGE_OUTPUT_SCHEMA = (
    "user_id long, value double, last_t long, eid long, src string, "
    "deleted int"
)
MERGE_STATE_SCHEMA = (
    "pre_t long, pre_eid long, pre_v double, "
    "post_t long, post_eid long, post_v double, post_del int"
)


def make_merge_updater(cutoff_us: int, extra_col: "str | None" = None):
    """Incremental CDC MERGE (the streaming twin of batch `merge-upsert`):
    per-key state is two argmaxes — the latest BASE row (events before the
    cutoff) and the latest CHANGE row (events at/after it, remembering
    whether it was a delete tombstone). Both reducers are commutative and
    associative, so ANY arrival order — within a batch, across batches,
    across replays — converges to the same final row; like
    `running_compaction`, this needs NO ordering contract at all (stronger
    than the SCD2 twin). Emission is update-mode: the current merged row
    per key, the finishing query keeps the last.

    ``extra_col`` is the streaming-side `_union_fields` (convert.py): an
    EVOLVED landing schema's added nullable column. Pre-evolution rows
    carry NULL there (the parquet source NULL-fills a declared column a
    file lacks); the value RIDES THE ARGMAX — whenever the latest-change
    row updates, its extra value updates with it (NULL tracked by an
    explicit presence flag in the state, so ANY integer value — negative
    included — round-trips), the emitted column converges under any
    arrival order exactly like the row it belongs to, and keys last
    touched before the evolution emit NULL. Emissions carry the source
    row's event id (``eid``) so the finisher can break equal-``last_t``
    ties exactly like the batch oracle (t DESC, event_id DESC)."""

    def update(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            (pre_t, pre_eid, pre_v, post_t, post_eid, post_v,
             post_del, post_x, post_x_set) = (*state.get, 0, 0)[:9]
        else:
            pre_t, pre_eid, pre_v = -1, -1, 0.0
            post_t, post_eid, post_v, post_del = -1, -1, 0.0, 0
            post_x, post_x_set = 0, 0
        for pdf in batches:
            xs = (
                pdf[extra_col]
                if extra_col is not None and extra_col in pdf.columns
                else [None] * len(pdf)
            )
            for t, eid, etype, v, x in zip(
                pdf["ts_us"], pdf["event_id"], pdf["event_type"],
                pdf["value"], xs,
            ):
                t, eid, v = int(t), int(eid), float(v)
                if t < cutoff_us:
                    if (t, eid) > (pre_t, pre_eid):
                        pre_t, pre_eid, pre_v = t, eid, v
                elif (t, eid) > (post_t, post_eid):
                    post_t, post_eid, post_v = t, eid, v
                    post_del = 1 if str(etype) == "error" else 0
                    post_x_set = 0 if pd.isna(x) else 1
                    post_x = 0 if pd.isna(x) else int(x)
        st = (pre_t, pre_eid, pre_v, post_t, post_eid, post_v, post_del)
        state.update(
            st + (post_x, post_x_set) if extra_col is not None else st
        )
        if post_t >= 0:
            row = (user_id, post_v, post_t, post_eid, "change", post_del)
            extra = post_x if post_x_set else None
        elif pre_t >= 0:
            row = (user_id, pre_v, pre_t, pre_eid, "base", 0)
            extra = None
        else:
            return
        cols = ["user_id", "value", "last_t", "eid", "src", "deleted"]
        if extra_col is not None:
            cols.append(extra_col)
            row = row + (extra,)
        yield pd.DataFrame([row], columns=cols)

    return update


def running_merge_upsert(
    events: DataFrame, cutoff_us: int, extra_col: "str | None" = None
) -> DataFrame:
    """events (streaming: user_id, ts_us, event_id, event_type, value
    [+ an evolved nullable ``extra_col``]) → update-mode merged row per
    user."""
    out = MERGE_OUTPUT_SCHEMA
    st = MERGE_STATE_SCHEMA
    if extra_col is not None:
        out += f", {extra_col} long"
        st += ", post_x long, post_x_set int"
    return events.groupBy("user_id").applyInPandasWithState(
        make_merge_updater(cutoff_us, extra_col),
        outputStructType=out,
        stateStructType=st,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------------- streaming gaps

GAP_OUTPUT_SCHEMA = (
    "event_type string, gap_start_us long, gap_end_us long, gap_us long, "
    "last_event_id long, next_event_id long"
)
GAP_STATE_SCHEMA = "prev_t long, prev_eid long"

# the batch operator OWNS the threshold (it is baked into
# ORACLE_GAP_DETECT); importing it means stream and oracle cannot diverge
from rosbag2parquet_spark.operators.asof import (  # noqa: E402
    _GAP_THRESHOLD_US,
)


def _update_gaps(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Incremental silence detection (streaming twin of `gap-detect`): the
    state is the last-seen (t, event_id) per entity; each arriving event
    CLOSES the inter-arrival interval behind it, emitting a gap row when
    it exceeds the threshold — the live monitor a fleet health dashboard
    runs, O(1) state. Rows sort within an invocation; per-key in-order
    delivery across micro-batches is the keyed-log contract (same as the
    SCD2/resample twins)."""
    (etype,) = key
    prev_t, prev_eid = state.get if state.exists else (-1, -1)
    pdf = pd.concat(list(batches), ignore_index=True)
    pdf = pdf.sort_values(["ts_us", "event_id"], kind="mergesort")
    out: dict[str, list] = {
        "event_type": [], "gap_start_us": [], "gap_end_us": [],
        "gap_us": [], "last_event_id": [], "next_event_id": [],
    }
    for t, eid in zip(pdf["ts_us"], pdf["event_id"]):
        t, eid = int(t), int(eid)
        if prev_t >= 0 and t - prev_t > _GAP_THRESHOLD_US:
            out["event_type"].append(etype)
            out["gap_start_us"].append(prev_t)
            out["gap_end_us"].append(t)
            out["gap_us"].append(t - prev_t)
            out["last_event_id"].append(prev_eid)
            out["next_event_id"].append(eid)
        prev_t, prev_eid = t, eid
    state.update((prev_t, prev_eid))
    yield pd.DataFrame(out)


def running_gap_detect(events: DataFrame) -> DataFrame:
    """events (streaming: event_type, ts_us, event_id) → append-mode gap
    emissions per entity."""
    return events.groupBy("event_type").applyInPandasWithState(
        _update_gaps,
        outputStructType=GAP_OUTPUT_SCHEMA,
        stateStructType=GAP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------- streaming heavy hitters

HH_OUTPUT_SCHEMA = "bucket int, term string, est long, dec long, n long, seen long"
HH_STATE_SCHEMA = "terms array<string>, counts array<long>, dec long, n long"

# per-bucket Misra-Gries capacity — the BATCH constant (functions/text.py
# _MG_K) imported, so the stream state capacity and the audit threshold
# q_stream_heavy_hitters derives from _MG_K can never drift apart
from rosbag2parquet_spark.functions.text import _MG_K as _HH_K  # noqa: E402


def _update_heavy_hitters(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Incremental Misra-Gries keyed by TERM-HASH BUCKET: buckets are
    disjoint term partitions, so per-bucket capacity-K summaries carry the
    same global guarantee as the batch sketch (every term above N/(K+1)
    survives; underestimate ≤ Σ per-bucket decrements ≤ N/(K+1)) — and MG
    is a one-pass streaming algorithm by construction, so the guarantees
    hold under ANY arrival order. Each invocation emits the bucket's full
    summary stamped with tokens-seen-so-far; the finishing query keeps
    each bucket's latest emission."""
    (bucket,) = key
    if state.exists:
        terms, counts, dec, n = state.get
        d = dict(zip(list(terms), [int(c) for c in counts]))
        dec, n = int(dec), int(n)
    else:
        d, dec, n = {}, 0, 0
    for pdf in batches:
        for t in pdf["term"]:
            t = str(t)
            n += 1
            if t in d:
                d[t] += 1
            elif len(d) < _HH_K:
                d[t] = 1
            else:
                dec += 1
                for kk in list(d):
                    d[kk] -= 1
                    if d[kk] == 0:
                        del d[kk]
    state.update((list(d.keys()), list(d.values()), dec, n))
    rows = [(bucket, t, c, 0, 0, n) for t, c in d.items()]
    rows.append((bucket, None, 0, dec, n, n))
    yield pd.DataFrame(
        rows, columns=["bucket", "term", "est", "dec", "n", "seen"]
    )


def running_heavy_hitters(tokens: DataFrame) -> DataFrame:
    """tokens (streaming: bucket int, term string) → update-mode per-bucket
    MG summaries."""
    return tokens.groupBy("bucket").applyInPandasWithState(
        _update_heavy_hitters,
        outputStructType=HH_OUTPUT_SCHEMA,
        stateStructType=HH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------------- streaming as-of

ASOF_OUTPUT_SCHEMA = (
    "event_id long, user_id long, ts_us long, "
    "last_orderkey long, last_order_price double"
)
ASOF_STATE_SCHEMA = "qt long, okey long, price double"


def _update_asof(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Incremental as-of join (streaming twin of X6 `asof`): state per key
    is ONE carried quote — the latest seen. Rows of both sides arrive
    interleaved on one keyed stream (side 0 = quote, side 1 = probe) and
    are swept in (t, side, okey) order: a quote overwrites the carried
    state, a probe emits with whatever is carried — exactly the batch
    union-and-carry-forward window, incrementalized with O(1) state.

    Tie semantics mirror the batch order key: side 0 sorts before side 1
    at the same instant (`<=` as-of inclusivity), and among same-instant
    quotes the max o_orderkey lands last in the sweep, reproducing the
    batch's max_by pre-dedup. Rows sort within an invocation; across
    micro-batches the operator assumes per-key in-order delivery (the
    keyed-log contract, as the SCD2/resample twins)."""
    (user_id,) = key
    qt, okey, price = state.get if state.exists else (-1, -1, 0.0)
    pdf = pd.concat(list(batches), ignore_index=True)
    pdf = pdf.sort_values(["t_us", "side", "okey"], kind="mergesort")
    out: dict[str, list] = {
        "event_id": [], "ts_us": [], "last_orderkey": [],
        "last_order_price": [],
    }
    for t, side, eid, ok, pr in zip(
        pdf["t_us"], pdf["side"], pdf["event_id"], pdf["okey"], pdf["price"]
    ):
        if side == 0:
            qt, okey, price = int(t), int(ok), float(pr)
        else:
            out["event_id"].append(int(eid))
            out["ts_us"].append(int(t))
            out["last_orderkey"].append(okey if qt >= 0 else None)
            out["last_order_price"].append(price if qt >= 0 else None)
    state.update((qt, okey, price))
    yield pd.DataFrame(
        {
            "event_id": pd.array(out["event_id"], dtype="Int64"),
            "user_id": pd.array(
                [user_id] * len(out["event_id"]), dtype="Int64"
            ),
            "ts_us": pd.array(out["ts_us"], dtype="Int64"),
            "last_orderkey": pd.array(out["last_orderkey"], dtype="Int64"),
            "last_order_price": pd.array(
                out["last_order_price"], dtype="Float64"
            ),
        }
    )


def running_asof(merged: DataFrame) -> DataFrame:
    """merged (streaming) columns: user_id long, t_us long, side int
    (0 = quote, 1 = probe), event_id long, okey long, price double →
    append-mode probe emissions carrying the as-of quote."""
    return merged.groupBy("user_id").applyInPandasWithState(
        _update_asof,
        outputStructType=ASOF_OUTPUT_SCHEMA,
        stateStructType=ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------- streaming semdedup

SEMDEDUP_OUTPUT_SCHEMA = "vec_id long, cluster int"
SEMDEDUP_STATE_SCHEMA = "ids array<bigint>, vecs binary"

_SD_DIM = 64


def _update_semdedup(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Incremental semantic dedup (streaming twin of X2 `semdedup`): state
    per k-means cluster is the SEEN document set (ids + vectors) — the
    incremental index, the same O(cluster-population) posture as the
    streaming LSH bucket index. Each arriving document compares against
    every EARLIER document of its cluster (kept or dropped — the batch
    rule is "exists smaller id with cos >= tau", not "exists kept"), then
    joins the index; survivors emit immediately. Rows sort by vec_id
    within an invocation; across micro-batches the operator assumes
    per-key id-ordered delivery (the keyed-log contract), which makes
    arrival order == id order and the emitted set EQUAL the batch query's.
    Cosine uses the same np.round(·, 6) >= tau decision as batch."""
    import numpy as np

    from rosbag2parquet_spark.functions.kmeans import SEMDEDUP_TAU

    (cluster,) = key
    if state.exists:
        ids_raw, vec_bytes = state.get
        ids = list(ids_raw)
        seen = np.frombuffer(vec_bytes, dtype=np.float64).reshape(
            -1, _SD_DIM
        ).copy()
    else:
        ids = []
        seen = np.empty((0, _SD_DIM), dtype=np.float64)
    norms = np.sqrt((seen * seen).sum(axis=1)) if len(ids) else np.empty(0)

    pdf = pd.concat(list(batches), ignore_index=True)
    pdf = pdf.sort_values("vec_id", kind="mergesort")
    kept_ids: list[int] = []
    # accumulate the batch's vectors in lists and stack ONCE at commit:
    # comparisons run against the pre-batch matrix plus the accumulated
    # in-batch rows, so per-batch copy traffic is O(m·dim), not the
    # O((s+m)·m·dim) a per-row vstack of a size-s cluster would move
    new_vecs: list = []
    new_norms: list[float] = []
    for vid, vec in zip(pdf["vec_id"], pdf["e"]):
        v = np.asarray(vec, dtype=np.float64)
        nv = float(np.sqrt((v * v).sum()))
        dup = False
        if len(ids):
            m = len(new_vecs)
            pre = len(ids) - m
            cos_parts = []
            if pre:
                cos_parts.append((seen[:pre] @ v) / (norms[:pre] * nv))
            if m:
                nb = np.asarray(new_vecs)
                cos_parts.append(
                    (nb @ v) / (np.asarray(new_norms) * nv)
                )
            cos = np.round(np.concatenate(cos_parts), 6)
            dup = bool((cos >= SEMDEDUP_TAU).any())
        if not dup:
            kept_ids.append(int(vid))
        ids.append(int(vid))
        new_vecs.append(v)
        new_norms.append(nv)
    if new_vecs:
        seen = np.vstack([seen, np.asarray(new_vecs)])
    state.update((ids, seen.tobytes()))
    yield pd.DataFrame(
        {
            "vec_id": pd.array(kept_ids, dtype="Int64"),
            "cluster": pd.array([int(cluster)] * len(kept_ids), dtype="Int32"),
        }
    )


def running_semdedup(vecs: DataFrame) -> DataFrame:
    """vecs (streaming) columns: vec_id long, e array<double>, cluster int
    → append-mode emissions of the documents that survive the incremental
    semantic-dedup index."""
    return vecs.groupBy("cluster").applyInPandasWithState(
        _update_semdedup,
        outputStructType=SEMDEDUP_OUTPUT_SCHEMA,
        stateStructType=SEMDEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------------- streaming top-k

KNN_OUTPUT_SCHEMA = (
    "query_id long, rk int, vec_id long, cos_sim double, n long"
)
KNN_STATE_SCHEMA = "n long, ids array<bigint>, sims array<double>"


def make_knn_update(k: int):
    """Build the per-query top-k maintainer (streaming twin of X3
    `knn-batch`): state per query id is the current top-k (ids + rounded
    cosines) plus a monotone seen-counter; each invocation merges the
    arriving (vec_id, cos_sim) pairs, re-sorts by (-cos_sim, vec_id) — the
    batch tie rule — and emits the refreshed top-k stamped with the
    counter, so the finishing query keeps each query's LAST emission
    (max n). Order-free: top-k maintenance is commutative, any arrival
    order converges to the batch answer."""

    def update(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (query_id,) = key
        n, ids, sims = state.get if state.exists else (0, [], [])
        ids, sims = list(ids), list(sims)
        pdf = pd.concat(list(batches), ignore_index=True)
        n += len(pdf)
        ids += [int(v) for v in pdf["vec_id"]]
        sims += [float(s) for s in pdf["cos_sim"]]
        order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))[:k]
        ids = [ids[i] for i in order]
        sims = [sims[i] for i in order]
        state.update((n, ids, sims))
        yield pd.DataFrame(
            {
                "query_id": [int(query_id)] * len(ids),
                "rk": list(range(1, len(ids) + 1)),
                "vec_id": ids,
                "cos_sim": sims,
                "n": [n] * len(ids),
            }
        )

    return update


def running_topk(scored: DataFrame, k: int) -> DataFrame:
    """scored (streaming) columns: query_id long, vec_id long,
    cos_sim double → append-mode refreshed top-k emissions per query."""
    return scored.groupBy("query_id").applyInPandasWithState(
        make_knn_update(k),
        outputStructType=KNN_OUTPUT_SCHEMA,
        stateStructType=KNN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------- streaming EWMA

EWMA_OUTPUT_SCHEMA = "user_id long, rn long, y long"
EWMA_STATE_SCHEMA = "rn long, y long"


def _update_ewma(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Incremental EWMA (streaming twin of `ewma`): state per entity is
    the last smoothed value + row ordinal — the O(1) live sensor filter.
    Same integer fixed-point step as batch, with the SAME constants
    (y' = (EWMA_NUM*x + (EWMA_DEN-EWMA_NUM)*y) // EWMA_DEN; floor division
    == the batch fold's arithmetic shift for power-of-two EWMA_DEN). A
    NULL input propagates NULL through the rest of the chain exactly as
    the batch fold and the recursive-CTE oracle do. Rows sort by (t, eid)
    within an invocation; across micro-batches the operator assumes
    per-key in-order delivery (the keyed-log contract)."""
    # r13: the recursion body moved to the SHARED kernel `ewma_fold_py`
    # (also the batch q_ewma per-group tier) — stream == batch is now
    # structural, not two hand-kept copies of the same arithmetic.
    # r14: the per-invocation pandas overhead trimmed — this function runs
    # ONCE PER USER per micro-batch (~1500 invocations at sf0.1), and
    # profiling showed pandas sort_values + the nullable-Int64 output
    # frame were 0.43 of the 0.77 ms body. np.lexsort is stable like the
    # mergesort it replaces (and (t, eid) is unique anyway — eid is
    # globally unique), and the no-NULL fast path emits plain int64;
    # NULL-bearing batches take the exact r13 path.
    import numpy as np

    from rosbag2parquet_spark.operators.asof import ewma_fold_py

    (user_id,) = key
    rn, y = state.get if state.exists else (0, 0)
    pdfs = list(batches)
    pdf = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
    order = np.lexsort((pdf["eid"].to_numpy(), pdf["t"].to_numpy()))
    xcol = pdf["x"].take(order)
    if xcol.isna().values.any():
        xs = [None if pd.isna(x) else int(x) for x in xcol]
    else:
        xs = [int(x) for x in xcol.to_numpy()]
    out_y, rn, y = ewma_fold_py(xs, rn, y)
    out_rn = np.arange(rn - len(out_y) + 1, rn + 1, dtype=np.int64)
    state.update((rn, y))
    if any(v is None for v in out_y):
        # nullable Int64 so a propagated NULL survives the Arrow
        # conversion (a plain list with None would coerce to float64)
        ys = pd.array(out_y, dtype="Int64")
    else:
        ys = np.asarray(out_y, dtype=np.int64)
    yield pd.DataFrame(
        {
            "user_id": np.full(len(out_rn), int(user_id), dtype=np.int64),
            "rn": out_rn,
            "y": ys,
        }
    )


def running_ewma(events: DataFrame) -> DataFrame:
    """events (streaming) columns: user_id long, t long, eid long, x long
    → append-mode smoothed emissions, one per input row."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_ewma,
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------------- streaming funnel

FUNNEL_OUTPUT_SCHEMA = "user_id long, s1 integer, s2 integer, s3 integer"
#: ordered-stage timestamps, -1 = stage not reached yet
FUNNEL_STATE_SCHEMA = "t1 long, t2 long, t3 long"


def _update_funnel(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    t1, t2, t3 = state.get if state.exists else (-1, -1, -1)
    for pdf in batches:
        # Vectorized stage advancement — valid under the keyed-log
        # contract (per-key arrival in (ts, event_id) order): a stage
        # threshold, once set, is final (earlier-batch events all have
        # ts <= everything here, so they could never have been eligible
        # for a stage that opened later), and within a batch eligibility
        # is a pure ts comparison (an eligible click cannot positionally
        # precede the view that opened its stage: ts order forbids it).
        if t1 < 0:
            v = pdf.loc[pdf["event_type"] == "view", "ts_us"]
            if len(v):
                t1 = int(v.min())
        if t1 >= 0 and t2 < 0:
            c = pdf.loc[
                (pdf["event_type"] == "click") & (pdf["ts_us"] > t1),
                "ts_us",
            ]
            if len(c):
                t2 = int(c.min())
        if t2 >= 0 and t3 < 0:
            p = pdf.loc[
                (pdf["event_type"] == "purchase") & (pdf["ts_us"] > t2),
                "ts_us",
            ]
            if len(p):
                t3 = int(p.min())
    state.update((t1, t2, t3))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "s1": [1 if t1 >= 0 else 0],
            "s2": [1 if t2 >= 0 else 0],
            "s3": [1 if t3 >= 0 else 0],
        }
    )


def running_funnel(events: DataFrame) -> DataFrame:
    """Streaming funnel: per-user ordered-stage progression (view →
    click-after-view → purchase-after-that-click) with O(1) state per
    key — three stage timestamps. The compaction reducer above is
    order-free; the funnel is inherently order-SENSITIVE (a late view can
    re-open earlier clicks, which would need the full click history), so
    this operator rides the keyed-log contract like running_asof: per-key
    arrival in (ts, event_id) order, any interleaving across keys. Stage
    flags are monotone — they only ever switch on — so the LAST emission
    per user is the final funnel position. Input columns: user_id, ts_us,
    event_id, event_type."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_funnel,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
