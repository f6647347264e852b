"""Measurement plumbing shared by the workloads: timing spans with Spark
job/stage/task counts, result-check accounting and peak RSS.

Spans are kept in memory and written once, at the end of a traced run. An
untraced :class:`Tracer` still times each call (the end-to-end metrics
need the wall times) but sets no job group, polls no status tracker and
keeps no spans.
"""

from __future__ import annotations

import json
import os
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from statistics import median


def calib_ms() -> float:
    """Median time of a fixed single-threaded Python loop, in ms: how fast
    the host runs at the moment, printed beside the metrics so that a
    slow run can be told from a slow program."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        total = 0
        for i in range(1_000_000):
            total += i * i
        times.append((time.perf_counter() - t0) * 1000.0)
    return median(times)


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of a live process, in kB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise ValueError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak RSS of this driver process and of its JVM child, in MB."""
    jvm = spark.sparkContext._gateway.proc.pid
    return vm_hwm_kb(os.getpid()) / 1024.0, vm_hwm_kb(jvm) / 1024.0


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "str | None" = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Times calls into the program; when ``enabled``, also records each as
    a span carrying the Spark work it caused.

    Jobs are attributed by id: every job whose id is above the highest id
    seen before the call started belongs to the call (the benchmark is a
    single closed-loop client, so nothing else submits jobs meanwhile).
    The job group alone would miss jobs that the program submits from its
    own worker threads, which do not inherit the caller's group."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        #: seconds spent in the tracer's own bookkeeping
        self.overhead = 0.0
        self._stack: list[str] = []
        #: every job group set so far; "" is the group outside any span
        self._groups: list[str] = [""]

    def _settle(self) -> None:
        """Let the status store catch up with the listener events."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _job_ids(self) -> set[int]:
        st = self.spark.sparkContext.statusTracker()
        ids = set(st.getJobIdsForGroup())
        for g in self._groups:
            ids.update(st.getJobIdsForGroup(g))
        return ids

    def _count(self, span: Span, after: int) -> None:
        st = self.spark.sparkContext.statusTracker()
        for j in sorted(self._job_ids()):
            if j <= after:
                continue
            info = st.getJobInfo(j)
            if info is None:
                continue
            span.jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                span.stages += 1
                span.tasks += stage.numCompletedTasks
                span.failed_tasks += stage.numFailedTasks

    @contextmanager
    def span(self, name: str):
        """Time the block; yields the :class:`Span` (filled in on exit)."""
        sp = Span(name, 0.0, parent=self._stack[-1] if self._stack else None)
        before = -1
        sc = self.spark.sparkContext
        if self.enabled:
            t0 = time.perf_counter()
            self._settle()
            before = max(self._job_ids(), default=-1)
            group = f"{self.run_id}:{len(self.spans)}:{name}"
            self._groups.append(group)
            sc.setJobGroup(group, name)
            self._stack.append(name)
            self.overhead += time.perf_counter() - t0
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()
                sc.setJobGroup(self._stack[-1] if self._stack else "", "")
                self._settle()
                self._count(sp, before)
                self.spans.append(sp)
                self.overhead += time.perf_counter() - sp.end

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [
                        {
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "jobs": s.jobs,
                            "stages": s.stages,
                            "tasks": s.tasks,
                            "failed_tasks": s.failed_tasks,
                        }
                        for s in self.spans
                    ],
                },
                fh,
                indent=1,
            )


@dataclass
class Checks:
    """Counts operations attempted and failed (raised, or answered wrong)."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    @contextmanager
    def op(self, label: str):
        """One checked operation: a raise inside counts as a failure."""
        self.attempted += 1
        try:
            yield
        except Exception as exc:  # the benchmark must report, not die
            self.failed += 1
            self.problems.append(f"{label}: {type(exc).__name__}: {exc}")
            traceback.print_exc()
