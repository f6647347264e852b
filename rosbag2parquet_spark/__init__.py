"""rosbag2parquet_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of orm011/rosbag2parquet (reference: C++14 batch
ETL columnarizer), re-expressed Spark-first.

The reference converts a row-oriented typed message log into per-type Parquet
tables plus ``Messages``/``Connections`` metadata tables and delegates querying
to engines reading its output (reference README.md:14-18). This package
provides both halves natively on Spark:

- the pipeline operators (scan, demux, flatten, cast/promote, time-split,
  seqno, dim-lookup, metadata projection, SNAPPY parquet sink) as DataFrame
  transformations — see :mod:`rosbag2parquet_spark.operators` and
  :mod:`rosbag2parquet_spark.sources`;
- the downstream query surface its output is designed for (filter pushdown,
  column pruning, joins on seqno/connection_id, SQL, top-k, union) — Catalyst
  provides most of it; see :mod:`rosbag2parquet_spark.operators.relational`;
- north-star large-scale training-data ops (dedup, similarity search,
  multimodal columns, text analysis) — :mod:`rosbag2parquet_spark.functions`.

Everything is DataFrame/SQL-first: logical plans are declared, Catalyst +
Tungsten choose the physical strategy; Pandas UDFs appear only where built-in
operators cannot express the semantics (documented per call site).
"""

__all__ = [
    "convert",
    "convert_bag",
    "get_spark",
    "load_table",
    "register_views",
    "TABLES",
]

__version__ = "0.1.0"

#: PEP 562 lazy re-exports (r13, guide §5 "the driver should do almost no
#: data work"): every Python worker that unpickles a task function of this
#: package (a scan or write task) imports it. The eager re-exports dragged
#: convert/session/catalog (11 modules, ~52 ms measured marginal with
#: pyspark preloaded) into each worker's first task for names none of those
#: workers ever touch. Resolved
#: on first attribute access instead; the public surface is unchanged.
_LAZY = {
    "convert": ("rosbag2parquet_spark.convert", "convert"),
    "convert_bag": ("rosbag2parquet_spark.convert", "convert_bag"),
    "get_spark": ("rosbag2parquet_spark.session", "get_spark"),
    "TABLES": ("rosbag2parquet_spark.sources.catalog", "TABLES"),
    "load_table": ("rosbag2parquet_spark.sources.catalog", "load_table"),
    "register_views": ("rosbag2parquet_spark.sources.catalog", "register_views"),
}


def __getattr__(name: str):
    try:
        modname, attr = _LAZY[name]
    except KeyError:
        raise AttributeError(
            f"module {__name__!r} has no attribute {name!r}"
        ) from None
    import importlib

    value = getattr(importlib.import_module(modname), attr)
    globals()[name] = value  # cache: next access skips __getattr__
    return value


def __dir__():
    return sorted(set(globals()) | set(_LAZY))
