"""SparkSession factory tuned for this engine.

The reference runs one thread of one process (reference README.md:131-133
"not pipelined"); our engine is built for a multi-executor cluster and tested
on ``local[N]``. All scale-sensitive knobs live here so every entry point
(driver contract, tests, bench) shares one configuration:

- AQE on (runtime coalescing, skew-join splitting) — the 100 TB story relies
  on it re-planning skewed shuffles;
- shuffle partitions sized to cores for local mode (the 200 default
  over-parallelizes small local runs and under-parallelizes big clusters —
  clusters should override via ``spark.sql.shuffle.partitions``);
- session timezone pinned to UTC so timestamp semantics match external
  oracles (DuckDB is UTC-naive);
- Arrow enabled for the Pandas-UDF slow path;
- Spark's generated-class cache sized to the session's query shapes:
  ``spark.sql.codegen.cache.maxEntries`` = :data:`CODEGEN_CACHE_ENTRIES`
  (Spark's default is 100). At sf0.001 one pass of the analytics suite
  compiles 193 distinct classes and one pass of the full ``queries()``
  registry 2,059, so at 100 every repeat pass of the suite evicted and
  recompiled about 195 (1.0-1.3 s of compile time a pass); now a repeat
  pass compiles none. ``spark.sql.codegen.useIdInClassName`` = false
  keeps the codegen stage id out of the generated source, which is the
  cache key: AQE numbers a re-planned query's stages in the order it
  creates them, which follows stage completion order, so with the id in
  the class name a repeat of one query compiled 2-6 classes anew. Cost:
  JVM metaspace after two passes of the full registry was 220 MB,
  against 207 MB at 100 entries; after four passes of the suite it was
  164 MB, against 166 MB. The cache size is a static conf, read when the
  cache is built at the JVM's first compile: a session this function did
  not build keeps Spark's 100;
- ``spark.python.daemon.module`` = :mod:`rosbag2parquet_spark._daemon`, so
  a Python worker does not re-read ~27k zip directory entries (pyspark.zip,
  py4j, the spark-core jar) at the start of every task: that stdlib call,
  ``importlib.invalidate_caches()``, was most of a small task's fixed cost
  (a no-op 16-task job 1.2 s -> 0.34 s on 4 cores). Workers import the
  package from the driver's cwd or ``PYTHONPATH``, as package tasks already
  need; the conf is set only when the package is found there, and being
  static it does not reach a session this function did not build. That
  daemon also imports what tasks import (``_daemon.PRELOAD``: pandas,
  pyarrow, numpy, the package's scan, decode and write modules) and runs
  ``gc.collect(); gc.freeze()`` before its first fork, so a worker starts
  with nothing left to import and the ``gc.collect()`` after each task
  skips the frozen heap. Fork safety rests on those imports starting no
  thread that the fork would lose: numpy's OpenBLAS pool and pyarrow's
  jemalloc thread are re-armed by their libraries, and a module that
  starts threads or opens files at import must stay off the list;
- a warm-up job started by a session this function builds: one no-op
  ``mapInArrow`` task in job group :data:`WARMUP_GROUP`, run on a
  background thread, so the daemon's start and the JVM's first Arrow
  runner overlap the caller's own first work instead of preceding its
  first Python job. Counters of ungrouped jobs
  (``statusTracker().getJobIdsForGroup()``) never see it. A reused
  active session gets none, and an error in it (the session stopped
  while it runs) is dropped. :func:`stop_spark` waits for it before it
  stops the session.
"""

from __future__ import annotations

import logging
import os
import threading
import time

from pyspark import InheritableThread, SparkContext
from pyspark.sql import SparkSession

#: the job group of the warm-up job a new session runs
WARMUP_GROUP = "rosbag2parquet_spark.warmup"

#: ``spark.sql.codegen.cache.maxEntries``: twice the 2,059 classes one pass
#: of the full query registry compiles (Spark's default holds 100)
CODEGEN_CACHE_ENTRIES = 4096

#: the package's parent dir, which a worker must find on its sys.path
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _workers_find_package() -> bool:
    """Whether a worker started by this driver imports the package: Spark
    starts it in the driver's cwd with the driver's ``PYTHONPATH``."""
    dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return any(d and os.path.realpath(d) == os.path.realpath(_ROOT) for d in dirs)


def get_spark(app_name: str = "rosbag2parquet_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the session.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores. On a real
    cluster the caller supplies its own master/conf; everything here is safe
    to apply cluster-side too.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # session-wide parquet timestamp invariants (also asserted by
        # __spark_entry__._configure for driver-owned sessions): naive
        # timestamps read as session-TZ TimestampType; TIMESTAMP(NANOS)
        # columns surface as nanos-since-epoch longs which
        # sources.catalog.load_table rebuilds as micros — declared here so
        # no table read has to mutate the session behind the caller's back
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if _workers_find_package():
        builder = builder.config(
            "spark.python.daemon.module", "rosbag2parquet_spark._daemon"
        )
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    new = SparkContext._active_spark_context is None
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if new:
        _Warmup(spark).start()
    return spark


def compile_count(spark: SparkSession) -> int:
    """The classes Spark's code generator has compiled in this JVM: one per
    miss of its generated-class cache (``CodegenMetrics``)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def stop_spark(spark: SparkSession | None = None) -> None:
    """Stop ``spark`` (default: the active session, if any) once its warm-up
    job has ended, waiting at most 30 s for it.

    A stop under a running Python task logs Spark ``ERROR`` lines for it
    ("SparkEnv.get() is null", "Python worker exited unexpectedly")
    although nothing failed. Cancelling the warm-up does not help: a
    cancelled job ends before its killed task does, and that task ends no
    sooner than the warm-up would have (about 1.5 s after the cancel, on
    4 cores). A job that succeeds has run its task's completion listeners.
    """
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        return
    deadline = time.monotonic() + 30.0
    for t in threading.enumerate():
        if t.name == WARMUP_GROUP:
            t.join(max(0.0, deadline - time.monotonic()))
    spark.stop()


class _Warmup(InheritableThread):
    """The warm-up job on its own thread. An error it meets, the stop of a
    session that has not finished it included, is logged at debug level
    and dropped: the warm-up only saves time."""

    def __init__(self, spark: SparkSession):
        super().__init__(self._job, args=(spark,), name=WARMUP_GROUP, daemon=True)

    @staticmethod
    def _job(spark: SparkSession) -> None:
        def noop(batches):
            for _ in batches:
                pass
            return iter(())

        spark.sparkContext.setJobGroup(WARMUP_GROUP, "start the Python workers")
        spark.range(0, 1, 1, 1).mapInArrow(noop, "id long").collect()

    def run(self) -> None:
        try:
            super().run()
        except Exception:
            logging.getLogger(__name__).debug("warm-up job failed", exc_info=True)
