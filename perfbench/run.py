"""Benchmark entry point: run one workload at one seed and print its metrics.

    python3 perfbench/run.py --workload convert --seed 1 --seconds 25 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (every
end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1``). Lines before it, prefixed ``#``, describe the inputs and
the live Spark session. All scratch output lives in a temporary directory
under ``perfbench/.work`` that is removed on exit; a traced run also writes
its spans to ``perfbench/results/``. Every process the run starts has
ended by the time it exits.

A run does a fixed amount of work (see ``workloads.py``), so that two
versions of the program are measured on the same work; ``--seconds`` is
accepted for the common benchmark command line and does not change it.

``--scale smoke`` runs the same code path on tiny inputs, and
``--inject-fault`` corrupts one result before it is checked; both exist
for the benchmark's own tests. The exit code is 0 only when every check
passed, and 2 when the program under test is not beside this directory.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import math
import os
import shlex
import shutil
import signal
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>


def _environment(work: str) -> None:
    """Point every scratch path of Spark and the program into ``work``,
    size the session to this machine, and let Spark's Python workers
    import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", f"spark.hadoop.hadoop.tmp.dir={tmp}",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "pyspark-shell",
    ])
    tempfile.tempdir = None  # re-read TMPDIR
    for p in (REPO, BENCH):
        if p not in sys.path:
            sys.path.insert(0, p)


def _adopt_descendants() -> None:
    """Make this process the reaper of every process the run starts, so
    that a Python worker whose parent JVM has exited is still ours to wait
    for (Linux ``PR_SET_CHILD_SUBREAPER``)."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me = str(os.getpid())
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if stat[stat.rindex(")") + 2:].split()[1] == me:
            pids.append(int(name))
    return pids


def _reap(grace: float = 15.0) -> None:
    """Wait until every child process has ended: after ``grace`` seconds
    terminate those still running, and kill them after as long again."""
    start = time.monotonic()
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no children left
        late = time.monotonic() - start
        sig = signal.SIGKILL if late > 2 * grace else signal.SIGTERM if late > grace else None
        if sig is not None and sig != sent:
            for pid in _children():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            sent = sig
        time.sleep(0.05)


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("convert", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=25.0, help="accepted; the work is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full")
    ap.add_argument("--inject-fault", action="store_true")
    args = ap.parse_args(argv)

    for need in ("rosbag2parquet_spark", "__spark_entry__.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(REPO, need)):
            print(f"perfbench: {need} not found in {REPO}; run from a full checkout",
                  file=sys.stderr)
            return 2

    _adopt_descendants()
    # a terminated run still stops its JVM and waits for its children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(BENCH, ".work"))
    run = None
    try:
        _environment(work)
        from harness import calib_ms
        from workloads import SCALES, WORKLOADS, Run, stop_session

        run = Run(
            workload=args.workload,
            seed=args.seed,
            trace=bool(args.trace),
            scale=SCALES[args.scale],
            work=work,
            inject_fault=args.inject_fault,
        )
        calib = calib_ms()
        t0 = time.perf_counter()
        if args.trace:
            from layers import layer_sweep

            metrics = layer_sweep(run)
            run.tracer.dump(os.path.join(BENCH, "results", f"trace-{args.workload}-seed{args.seed}.json"))
        else:
            metrics = WORKLOADS[args.workload](run)
        run.note(f"run wall {time.perf_counter() - t0:.1f}s; "
                 f"host calib {calib:.0f}ms before, {calib_ms():.0f}ms after")
    finally:
        try:
            if run is not None and run.spark is not None:
                stop_session(run.spark)
        finally:
            try:
                _reap()
            finally:
                shutil.rmtree(work, ignore_errors=True)

    checks = run.checks
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    metrics = {name: metrics.get(name, math.nan) for name in units}
    bad = [k for k, v in metrics.items() if not math.isfinite(v)]
    correct = checks.failed == 0 and not bad
    for line in run.notes:
        print(f"# {line}")
    print(f"# error_rate={checks.failed / max(1, checks.attempted):.6f} "
          f"({checks.failed} of {checks.attempted} operations failed)")
    for p in checks.problems[:10]:
        print(f"# FAILED {p}")
    if bad:
        print(f"# not measured: {', '.join(bad)}")
    print(json.dumps({
        "correct": correct,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {
            k: {"value": v if math.isfinite(v) else None, "unit": units[k]}
            for k, v in metrics.items()
        },
    }))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
