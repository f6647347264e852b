"""A session keeps its working set of query shapes compiled.

The analytics suite's fifteen queries compile about 190 distinct classes
at sf0.001, more than the 100 that Spark's generated-class cache holds by
default; at that size every repeat pass evicted and recompiled about 190
of them. `session.get_spark` sizes the cache to the full query registry
and leaves the codegen stage id out of the class names, so a repeat pass
compiles nothing (with the id in the name, AQE numbered a re-planned
query's stages in the order they were created, which varies with stage
completion order, and each new numbering compiled 2-6 classes again).
"""

import __spark_entry__ as entry
from rosbag2parquet_spark.session import compile_count
from tests.conftest import SF_DIR

#: the analytics suite (perfbench/analytics.py SUITE)
SHAPES = (
    "groupby-agg", "sql", "join", "topk-per-group", "asof", "sessionize",
    "window-tumbling", "dedup-exact", "dedup-minhash-lsh", "text-stats",
    "quality-score", "knn", "embed-neardup", "seqno", "bm25-search",
)


def _pass(spark, queries) -> dict:
    """Each query collected once: the classes it compiled, by name."""
    compiled = {}
    for name in SHAPES:
        before = compile_count(spark)
        queries[name](spark, SF_DIR).collect()
        compiled[name] = compile_count(spark) - before
    return compiled


def test_repeat_pass_compiles_nothing(spark):
    queries = entry.queries()
    _pass(spark, queries)
    repeat = _pass(spark, queries)
    assert sum(repeat.values()) == 0, {n: c for n, c in repeat.items() if c}
