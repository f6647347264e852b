"""The benchmark's two workloads.

Each workload is a closed loop with one client: the next call starts when
the previous one has returned and its answer has been checked. Only the
calls into the program are timed; checking happens outside the timed
region.

``convert``   one-shot and steady conversion of a seeded mixed-topic bag,
              then the seeded query mix over the layout it wrote.
``analytics`` the fifteen-query operator suite over seeded fixture tables,
              a cold first pass and then steady passes.

Both report the same end-to-end metrics (see :func:`end_to_end`); the
traced run reports every per-layer metric whichever workload it is given,
running the workload's own calls first so that its cold call is cold.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field
from statistics import geometric_mean, median

import bagmaker
import tablemaker
from analytics import SUITE, canonical, mismatch, oracle_answers
from harness import Checks, Tracer, peak_rss_mb
from layout import MIX, QUERY_TYPES, make_query, verify_layout

MB = 1_000_000

#: a run's work is fixed, so that two versions of the program are measured
#: on the same work: a convert run measures two rounds of the query mix,
#: each followed by a steady convert; an analytics run one steady pass over
#: the suite. A run lasts 35 to 45 s on 4 idle cores; the host has been
#: seen to run at half that speed for many minutes, and 48 runs must still
#: fit in an hour.
STEADY_ROUNDS = {"convert": 2, "analytics": 1}

#: input sizes: ``full`` is the benchmark, ``smoke`` drives the same code
#: path in seconds for the benchmark's own tests
SCALES = {
    "full": {"bag_seconds": 10.0, "image_bytes": 24_000, "sf": 0.005, "kernel_seconds": 0.2},
    "smoke": {"bag_seconds": 1.0, "image_bytes": 2_000, "sf": 0.001, "kernel_seconds": 0.01},
}


@dataclass
class Run:
    workload: str
    seed: int
    trace: bool
    scale: dict
    work: str
    inject_fault: bool = False
    checks: Checks = field(default_factory=Checks)
    notes: list[str] = field(default_factory=list)
    spark: object = None
    tracer: "Tracer | None" = None
    setup_s: float = 0.0

    def note(self, line: str) -> None:
        self.notes.append(line)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def take_fault(self) -> bool:
        """True once, when a deliberately wrong result was requested."""
        fault, self.inject_fault = self.inject_fault, False
        return fault


# ------------------------------------------------------------------ inputs


def make_bag(run: Run) -> bagmaker.Recording:
    rec = bagmaker.record(
        run.path("recording.bag"),
        run.seed,
        run.scale["bag_seconds"],
        image_bytes=run.scale["image_bytes"],
    )
    run.note(f"bag sha256={rec.sha256} bytes={rec.nbytes} messages={rec.n_messages}")
    run.note("bag topics " + " ".join(f"{t}={n}" for t, n in rec.topic_counts.items()))
    return rec


def make_fixture(run: Run) -> str:
    sf_dir = run.path("fixture")
    rows = tablemaker.make_tables(sf_dir, run.seed, run.scale["sf"])
    nbytes = sum(os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir))
    run.note(f"fixture sf={run.scale['sf']} bytes={nbytes} rows " + " ".join(f"{t}={n}" for t, n in rows.items()))
    return sf_dir


# ------------------------------------------------------------------- setup


def start_session(run: Run) -> dict:
    """Session start plus a warm-up job: the set-up every workload pays.
    Returns the session layer's metrics."""
    t0 = time.perf_counter()
    from rosbag2parquet_spark.session import get_spark

    run.spark = get_spark(f"perfbench-{run.workload}")
    t1 = time.perf_counter()
    run.spark.range(1000).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    run.tracer = Tracer(run.spark, run.trace, f"{run.workload}-{run.seed}-{os.getpid()}")
    run.setup_s = t2 - t0
    sc = run.spark.sparkContext
    run.note(f"master={sc.master} defaultParallelism={sc.defaultParallelism} "
             f"SPARK_GRAFT_CPUS={os.environ.get('SPARK_GRAFT_CPUS')}")
    run.note(f"setup start={t1 - t0:.3f}s warm={t2 - t1:.3f}s")
    return {"session.start_s": t1 - t0, "session.warm_s": t2 - t1}


def stop_session(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


# ------------------------------------------------------------- convert path


def convert_once(run: Run, rec: bagmaker.Recording, i: int):
    """One checked ``convert_bag``; returns (span, layout dir) or None."""
    from rosbag2parquet_spark.convert import convert_bag

    out = run.path(f"layout-{i}")
    done = None
    with run.checks.op(f"convert #{i}"):
        with run.tracer.span("convert.convert_bag") as sp:
            convert_bag(run.spark, rec.path, out)
        done = sp, out
        want = rec
        if run.take_fault():
            want = bagmaker.Recording(**{**rec.__dict__, "size": rec.size + 1})
        verify_layout(want, out)
    return done


def query_mix(run: Run, rec: bagmaker.Recording, layout_dir: str,
              rng: random.Random) -> dict[str, list]:
    """One round of the query mix in seeded order with seeded parameters;
    returns kind → spans."""
    entries = list(MIX)
    rng.shuffle(entries)
    spans: dict[str, list] = {k: [] for k in QUERY_TYPES}
    for n, (kind, table) in enumerate(entries):
        q = make_query(run.spark, rec, layout_dir, kind, rng, table)
        with run.checks.op(f"query #{n} {kind}"):
            with run.tracer.span(f"layout.{kind}") as sp:
                got = q.run()
            spans[kind].append(sp)
            if run.take_fault():
                got = ("wrong", got)
            if got != q.want:
                raise AssertionError(f"{kind}: got {got!r}, want {q.want!r}")
    return spans


def convert_workload(run: Run) -> dict:
    """Cold convert, one unmeasured round of the query mix over its layout,
    then measured rounds of the mix, each followed by a steady convert, so
    that queries and converts sample the same stretch of the run."""
    rec = make_bag(run)
    start_session(run)
    first = convert_once(run, rec, 0)
    cold_s = first[0].seconds if first else float("nan")
    latencies: dict[str, list[float]] = {}
    steady: list[float] = []
    if first is not None:
        rng = random.Random(run.seed)
        # each kind's first call plans and compiles, and costs about twice
        # what the later ones do
        query_mix(run, rec, first[1], rng)
        for i in range(STEADY_ROUNDS["convert"]):
            for kind, spans in query_mix(run, rec, first[1], rng).items():
                latencies.setdefault(kind, []).extend(sp.seconds for sp in spans)
            done = convert_once(run, rec, i + 1)
            if done is not None:
                steady.append(done[0].seconds)
                shutil.rmtree(done[1], ignore_errors=True)
    steady_s = median(steady) if steady else float("nan")
    run.note(f"convert cold={cold_s:.3f}s steady=" + ",".join(f"{x:.3f}" for x in steady)
             + f" ({rec.nbytes / MB / steady_s:.2f} MB/s)")
    return end_to_end(run, cold_s, steady_s, latencies)


# ------------------------------------------------------------ analytics path


def analytics_pass(run: Run, sf_dir: str, oracle: dict,
                   rng: "random.Random | None" = None) -> dict:
    """One pass over the suite, in seeded order when ``rng`` is given and
    in suite order otherwise; returns query → span of each query that
    answered."""
    import __spark_entry__

    qs = __spark_entry__.queries()
    order = [name for name, _ in SUITE]
    if rng is not None:
        rng.shuffle(order)
    spans = {}
    for name in order:
        with run.checks.op(f"analytics {name}"):
            with run.tracer.span(f"analytics.{name}") as sp:
                pdf = qs[name](run.spark, sf_dir).toPandas()
            spans[name] = sp
            if run.take_fault():
                pdf = pdf.iloc[:-1]
            problem = mismatch(oracle[name], canonical(pdf))
            if problem:
                raise AssertionError(f"{name}: {problem}")
    return spans


def analytics_workload(run: Run) -> dict:
    """A cold pass over the suite, then steady passes; a steady pass is
    reported as the sum of each query's median over the steady passes."""
    sf_dir = make_fixture(run)
    start_session(run)
    oracle = oracle_answers(sf_dir)
    # the cold pass keeps suite order: a query's first run in a session
    # costs more or less depending on which queries warmed the shared code
    # before it, so a seeded order would make cold_s vary with the seed
    cold_s = sum(sp.seconds for sp in analytics_pass(run, sf_dir, oracle).values())
    rng = random.Random(run.seed)
    latencies: dict[str, list[float]] = {}
    for _ in range(STEADY_ROUNDS["analytics"]):
        for name, sp in analytics_pass(run, sf_dir, oracle, rng).items():
            latencies.setdefault(name, []).append(sp.seconds)
    steady_s = sum(median(v) for v in latencies.values()) if latencies else float("nan")
    run.note(f"analytics cold={cold_s:.3f}s steady={steady_s:.3f}s")
    return end_to_end(run, cold_s, steady_s, latencies)


# --------------------------------------------------------------- reporting


def end_to_end(run: Run, cold_s: float, steady_s: float,
               latencies: dict[str, list[float]]) -> dict:
    """The end-to-end metrics; every workload reports all of them.

    ``latencies`` maps each query kind to its measured latencies. The
    query metric is the geometric mean over kinds of each kind's median:
    every kind weighs alike whatever its cost or sample count, and the
    metric rests on every kind, where a median over kinds would rest on
    the one or two kinds in the middle."""
    per_kind_ms = {k: median(v) * 1000.0 for k, v in latencies.items() if v}
    run.note("query ms (median of n) " + " ".join(
        f"{k}={ms:.0f}({len(latencies[k])})" for k, ms in per_kind_ms.items()))
    driver_mb, jvm_mb = peak_rss_mb(run.spark)
    run.note(f"peak rss driver={driver_mb:.0f}MB jvm={jvm_mb:.0f}MB")
    return {
        "setup_s": run.setup_s,
        "cold_s": cold_s,
        "steady_s": steady_s,
        "query_gmean_ms": geometric_mean(per_kind_ms.values()) if per_kind_ms else float("nan"),
    }


WORKLOADS = {"convert": convert_workload, "analytics": analytics_workload}
