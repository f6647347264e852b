"""The analytics suite: fifteen operator queries, one per operator family,
checked against their DuckDB oracles.

Both sides are fetched through pandas and compared order-insensitively
on type-tagged canonical strings, so an integer never matches a float of
the same value and a Decimal compares by value, not by declared scale.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import pickle
import subprocess
import sys

import numpy as np

#: (query, owning module) — one query per operator family
SUITE = (
    ("groupby-agg", "operators.relational"),
    ("sql", "operators.relational"),
    ("join", "operators.relational"),
    ("topk-per-group", "operators.relational"),
    ("asof", "operators.asof"),
    ("sessionize", "operators.windows"),
    ("window-tumbling", "operators.windows"),
    ("dedup-exact", "functions.dedup"),
    ("dedup-minhash-lsh", "functions.dedup"),
    ("text-stats", "functions.text"),
    ("quality-score", "functions.text"),
    ("knn", "functions.similarity"),
    ("embed-neardup", "functions.similarity"),
    ("seqno", "operators.keys"),
    ("bm25-search", "functions.text"),
)

MODULES = tuple(sorted({m for _, m in SUITE}))

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _canon(v) -> str:
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return "f:0.0" if v == 0.0 else f"f:{v!r}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v.normalize()}"
    if isinstance(v, datetime.datetime):
        ts = v if v.tzinfo is None else v.astimezone(datetime.timezone.utc)
        return "t:" + ts.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return f"D:{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return f"s:{v}"


def canonical(pdf) -> tuple[list[str], list[tuple[str, ...]]]:
    """(sorted column names, sorted rows of canonical cells) of a frame."""
    cols = list(pdf.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(
        tuple(_canon(row[i]) for i in order)
        for row in pdf.itertuples(index=False, name=None)
    )
    return [cols[i] for i in order], rows


def oracle_answers(sf_dir: str) -> dict[str, tuple]:
    """Canonical DuckDB oracle result of every suite query, computed in a
    child process so DuckDB's memory never counts in the driver's peak RSS.
    The child is a plain interpreter run to completion, so it leaves no
    helper process behind."""
    out = sf_dir.rstrip(os.sep) + ".oracle.pkl"
    subprocess.run([sys.executable, os.path.abspath(__file__), sf_dir, out], check=True)
    with open(out, "rb") as fh:
        return pickle.load(fh)


def _oracle_answers(sf_dir: str) -> dict[str, tuple]:
    import duckdb

    import __spark_entry__

    sql = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
        return {name: canonical(con.sql(sql[name]).df()) for name, _ in SUITE}
    finally:
        con.close()


def mismatch(want: tuple, got: tuple) -> "str | None":
    """Why a canonical answer differs from the oracle's, or None."""
    (wcols, wrows), (gcols, grows) = want, got
    if wcols != gcols:
        return f"columns {gcols} != oracle {wcols}"
    if len(wrows) != len(grows):
        return f"{len(grows)} rows != oracle {len(wrows)}"
    for w, g in zip(wrows, grows):
        if w != g:
            return f"first differing row {g} != oracle {w}"
    return None


if __name__ == "__main__":
    answers = _oracle_answers(sys.argv[1])
    with open(sys.argv[2], "wb") as fh:
        pickle.dump(answers, fh)
