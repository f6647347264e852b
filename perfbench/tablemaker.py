"""Seeded analytics fixture tables for the benchmark.

Writes the ten tables the analytics operators read (a TPC-H-shaped star
schema plus ``events``, ``documents`` and ``embeddings``) with the column
names and parquet types of ``rosbag2parquet_spark.sources.catalog.TABLES``.
Row counts scale with ``sf`` the way the project's fixtures do (lineitem
is 6M x sf). ``documents`` carries exact and near duplicates and
``embeddings`` near-duplicate vectors, so the dedup and similarity
operators find real matches.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = ("small", "red", "blue", "hot", "big", "green", "cold", "old")
PART_NOUNS = ("ring", "widget", "bolt", "gear", "nut", "spring", "valve", "pipe")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "de", "fr", "es", "zh")
VOCAB = (
    "a the row table key value part hash scan slow fast merge batch spark "
    "window line sort group order data column agg join small big query "
    "customer stream filter vector"
).split()

DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def make_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_line = max(2_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(50, int(15_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [
            f"{PART_WORDS[a]} {PART_NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    odate = EPOCH_1995_US + rng.integers(0, 2_400, n_ord) * DAY_US
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1_000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    l_order = rng.integers(0, n_ord, n_line, dtype=np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(
            odate[l_order] + rng.integers(1, 122, n_line) * DAY_US, pa.timestamp("us")
        ),
    })
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_evt))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt, dtype=np.int64)),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
        "value": np.round(np.minimum(rng.exponential(40.0, n_evt), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.10:  # near duplicate: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            n_words = int(rng.integers(10, 90))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_words)))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    labels = rng.integers(0, 10, n_emb, dtype=np.int32)
    centers = rng.normal(0.0, 0.15, (10, 64))
    emb = centers[labels] + rng.normal(0.0, 0.1, (n_emb, 64))
    dup = rng.random(n_emb) < 0.05
    src = rng.integers(0, n_emb, n_emb)
    emb[dup] = emb[src[dup]] + rng.normal(0.0, 0.002, (int(dup.sum()), 64))
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    return {
        "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
        "part": n_part, "orders": n_ord, "lineitem": n_line, "events": n_evt,
        "documents": n_doc, "embeddings": n_emb,
    }
