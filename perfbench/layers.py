"""The traced run: every per-layer metric, measured by timing calls into
each layer's public functions from outside the program.

Layers are named after the program's modules: ``session``, ``sources``
(bag scan and ``msgdef``), ``decode`` (``sources/decode.py``), ``keys``
(``operators/keys.py``), ``convert`` (orchestration and Parquet writer),
``layout``/``info`` (reads of the converted layout), and the analytics
operator modules under ``operators`` and ``functions``.

The isolated layer calls (scan, per-tier decode, decoder kernels, seqno)
run only here; end-to-end metrics come from untraced runs. The workload
named on the command line runs its own calls first, so its cold call is
measured cold in the trace as well.
"""

from __future__ import annotations

import random
import time
from statistics import median

from pyspark.sql import functions as F

import bagmaker
from analytics import MODULES, SUITE, oracle_answers
from harness import peak_rss_mb
from layout import layout_bytes
from workloads import (
    MB,
    Run,
    analytics_pass,
    convert_once,
    make_bag,
    make_fixture,
    query_mix,
    start_session,
)

#: decode tier → (datatype, arrays mode) that exercises it
DECODE_TIERS = {
    "fixed": ("geometry_msgs/Twist", "skip"),
    "offset_scan": ("sensor_msgs/Imu", "skip"),
    "per_row": ("sensor_msgs/JointState", "skip"),
    "blob": ("sensor_msgs/CompressedImage", "blobs"),
}

#: decoder kernel → datatype whose sample payloads it decodes. The
#: fixed-stride tier has no kernel of its own outside ``decode_messages``
#: (one ``np.frombuffer`` inside it), so only ``decode.fixed_s`` covers it.
KERNELS = {
    "offset_scan": "sensor_msgs/Imu",
    "per_row": "sensor_msgs/JointState",
}


def _rows_per_s(fn, n_rows: int, min_seconds: float) -> float:
    """Rows per second of ``fn`` over ``n_rows``, repeated for at least
    ``min_seconds``; the median repetition counts."""
    reps = []
    start = time.perf_counter()
    while len(reps) < 3 or time.perf_counter() - start < min_seconds:
        t0 = time.perf_counter()
        fn()
        reps.append(time.perf_counter() - t0)
    return n_rows / median(reps)


def _kernel_layers(run: Run, rec: bagmaker.Recording, layer: dict) -> None:
    """Decoder kernels on in-memory payloads, with no Spark."""
    from rosbag2parquet_spark.sources.decode import (
        make_decoder,
        make_vector_decoder,
        variable_layout,
    )
    from rosbag2parquet_spark.sources.msgdef import parse_msgdef

    for tier, dtype in KERNELS.items():
        bufs = rec.samples[dtype]
        specs = parse_msgdef(dtype, bagmaker.MSG_DEFS[dtype])
        if tier == "offset_scan":
            fn = (lambda bufs=bufs, dec=make_vector_decoder(variable_layout(dtype, specs)): dec(bufs))
        else:
            fn = (lambda bufs=bufs, dec=make_decoder(dtype, specs): [dec(b) for b in bufs])
        with run.checks.op(f"kernel {tier}"):
            layer[f"decode.kernel_{tier}_rows_per_s"] = _rows_per_s(
                fn, len(bufs), run.scale["kernel_seconds"]
            )


def _source_layers(run: Run, rec: bagmaker.Recording, layer: dict) -> None:
    """Scan, msgdef compile, per-tier decode and seqno, each isolated."""
    from rosbag2parquet_spark.info import load_bag, seqno_bucket_width
    from rosbag2parquet_spark.operators.keys import assign_seqno
    from rosbag2parquet_spark.sources.decode import decode_messages
    from rosbag2parquet_spark.sources.msgdef import parse_msgdef, to_struct_type

    compile_ms = []
    for _ in range(20):
        t0 = time.perf_counter()
        for dtype, text in bagmaker.MSG_DEFS.items():
            to_struct_type(dtype, parse_msgdef(dtype, text))
        compile_ms.append((time.perf_counter() - t0) * 1000.0)
    layer["sources.msgdef_compile_ms"] = median(compile_ms)

    msgs, _conns = load_bag(run.spark, rec.path)
    with run.checks.op("sources scan"):
        with run.tracer.span("sources.scan") as sp:
            got = msgs.agg(F.count(F.lit(1)), F.sum(F.length("data"))).collect()[0]
        if tuple(got) != (rec.n_messages, int(rec.size.sum())):
            raise AssertionError(f"scan read {tuple(got)}")
        layer["sources.scan_s"] = sp.seconds
        layer["sources.scan_mb_per_s"] = rec.nbytes / MB / sp.seconds
        layer["sources.scan_tasks"] = sp.tasks

    for tier, (dtype, arrays) in DECODE_TIERS.items():
        conns = [c for c, t in enumerate(bagmaker.TOPICS) if t.datatype == dtype]
        want = int(sum(rec.conn_id == c for c in conns).sum())
        part = msgs.where(F.col("conn_id").isin(conns)).cache()
        with run.checks.op(f"decode {tier}"):
            part.count()
            decoded = decode_messages(part, dtype, bagmaker.MSG_DEFS[dtype], arrays=arrays)
            with run.tracer.span(f"decode.{tier}") as sp:
                got = decoded.count()
            if got != want:
                raise AssertionError(f"decode {tier}: {got} rows, recorded {want}")
            layer[f"decode.{tier}_s"] = sp.seconds
        part.unpersist()

    width = seqno_bucket_width(rec.path)
    with run.checks.op("keys seqno"):
        seq = assign_seqno(msgs, ["offset"], bucket=F.expr(f"offset div {width}"))
        with run.tracer.span("keys.seqno") as sp:
            got = seq.agg(F.min("seqno"), F.max("seqno"), F.count(F.lit(1))).collect()[0]
        if tuple(got) != (0, rec.n_messages - 1, rec.n_messages):
            raise AssertionError(f"seqno min/max/count {tuple(got)}")
        layer["keys.seqno_s"] = sp.seconds
        layer["keys.seqno_jobs"] = sp.jobs


def _convert_layers(run: Run, rec: bagmaker.Recording, layer: dict) -> None:
    done = convert_once(run, rec, 0)
    if done is None:
        return
    sp, out = done
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        layer[f"convert.{k}"] = getattr(sp, k)
    files, nbytes = layout_bytes(out)
    layer["convert.files_written"] = files
    layer["convert.bytes_written"] = nbytes
    layer["convert.bytes_out_per_byte_in"] = nbytes / rec.nbytes

    rng = random.Random(run.seed)
    query_mix(run, rec, out, rng)  # unmeasured: first calls plan and compile
    spans = query_mix(run, rec, out, rng)
    for kind, key in (
        ("range", "layout.range_ms"),
        ("join", "layout.join_ms"),
        ("point", "layout.point_ms"),
        ("agg", "layout.agg_ms"),
        ("provenance", "layout.provenance_ms"),
        ("info", "info.layout_info_ms"),
    ):
        if spans[kind]:
            layer[key] = median([s.seconds for s in spans[kind]]) * 1000.0
    all_spans = [s for v in spans.values() for s in v]
    if all_spans:
        layer["layout.jobs_per_query"] = sum(s.jobs for s in all_spans) / len(all_spans)

    _source_layers(run, rec, layer)
    _kernel_layers(run, rec, layer)


def _analytics_layers(run: Run, sf_dir: str, layer: dict) -> None:
    oracle = oracle_answers(sf_dir)
    rng = random.Random(run.seed)
    analytics_pass(run, sf_dir, oracle)  # cold pass, in suite order: fills per-session caches
    spans = analytics_pass(run, sf_dir, oracle, rng)
    per_query = {q: sp.seconds for q, sp in spans.items()}
    for q, s in per_query.items():
        layer[f"analytics.{q}_ms"] = s * 1000.0
    if spans:
        layer["analytics.jobs"] = sum(sp.jobs for sp in spans.values())
    for module in MODULES:
        qs = [q for q, m in SUITE if m == module and q in per_query]
        if qs:
            layer[f"{module}_s"] = sum(per_query[q] for q in qs)


def layer_sweep(run: Run) -> dict:
    """Measure every per-layer metric; returns name → value."""
    rec = make_bag(run)
    sf_dir = make_fixture(run)
    t0 = time.perf_counter()
    layer = start_session(run)
    if run.workload == "analytics":
        _analytics_layers(run, sf_dir, layer)
        _convert_layers(run, rec, layer)
    else:
        _convert_layers(run, rec, layer)
        _analytics_layers(run, sf_dir, layer)
    wall = time.perf_counter() - t0
    layer["session.peak_rss_mb"] = sum(peak_rss_mb(run.spark))
    layer["trace.overhead_pct"] = 100.0 * run.tracer.overhead / (wall - run.tracer.overhead)
    return {k: float(v) for k, v in layer.items()}
