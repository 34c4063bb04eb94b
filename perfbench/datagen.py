"""Seeded generator for the star-schema source tables the benchmark reads.

The tables have the same names, column names and Arrow types as the
engine's test data (``customer``, ``supplier``, ``part``, ``orders``,
``nation``, ``region``, ``documents``), and the value shapes the engine's
queries depend on: ``Supplier#%09d`` names (the ER blocking join),
two-word part names from an 8x8 vocabulary (LSH banding), and a
31-word document vocabulary with planted exact and ``" dup"``-suffixed
near duplicates (the dedup family).  Row counts scale with ``sf`` like
TPC-H (``customer`` = 150000 x sf).  The same ``(seed, sf)`` always
writes the same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "documents")

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
N_NATIONS = 25
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.15, 0.4, 0.15, 0.15, 0.15)
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.002


# rows per table at sf=1 (TPC-H proportions)
ROWS_AT_SF1 = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
               "orders": 1_500_000, "documents": 50_000}


def rows(table: str, sf: float) -> int:
    return max(int(round(ROWS_AT_SF1[table] * sf)), 1)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(values, idx: np.ndarray) -> np.ndarray:
    return np.asarray(values)[idx]


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # near duplicates: an earlier-or-later document's text plus " dup";
    # exact duplicates: a verbatim copy.  Sources are always other,
    # unmodified documents, so every planted pair is a real pair.
    ids = rng.permutation(n)
    n_near = int(n * NEAR_DUP_SHARE)
    n_exact = max(int(n * EXACT_DUP_SHARE), 1) if n >= 4 else 0
    targets = ids[:n_near + n_exact]
    sources = ids[n_near + n_exact:]
    for j, tgt in enumerate(targets):
        src = texts[sources[rng.integers(0, len(sources))]]
        texts[tgt] = src + " dup" if j < n_near else src
    lang = rng.choice(len(LANGS), n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in lang], pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)],
                           pa.string()),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """All source tables for ``(seed, sf)`` as Arrow tables."""
    rng = np.random.default_rng(seed)
    n_cust = rows("customer", sf)
    n_supp = rows("supplier", sf)
    n_part = rows("part", sf)
    n_ord = rows("orders", sf)
    n_doc = rows("documents", sf)
    i32, i64 = pa.int32(), pa.int64()
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(len(REGIONS)), i32),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(N_NATIONS), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(N_NATIONS)]),
            "n_regionkey": pa.array([i % len(REGIONS)
                                     for i in range(N_NATIONS)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array(_names("Customer", n_cust)),
            "c_nationkey": pa.array(rng.integers(0, N_NATIONS, n_cust), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(_pick(SEGMENTS, rng.integers(0, 5, n_cust))),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array(_names("Supplier", n_supp)),
            "s_nationkey": pa.array(rng.integers(0, N_NATIONS, n_supp), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
    }
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}"
                            for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}"
                             for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(_pick(PART_TYPES, rng.integers(0, 6, n_part))),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(
            900.0 + (np.arange(n_part) % 1000) / 10.0),
    })
    first = dt.datetime(1995, 1, 1)
    days = rng.integers(0, (dt.datetime(2001, 8, 2) - first).days, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(_pick(STATUSES, rng.integers(0, 3, n_ord))),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(
            (np.datetime64("1995-01-01", "us")
             + days.astype("timedelta64[D]")).astype("datetime64[us]"),
            pa.timestamp("us")),
        "o_orderpriority": pa.array(
            _pick(PRIORITIES, rng.integers(0, 5, n_ord))),
    })
    out["documents"] = _documents(rng, n_doc)
    return out


def write(out_dir: str, seed: int, sf: float) -> int:
    """Write every table as ``<out_dir>/<name>.parquet``; returns the
    total bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in generate(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        total += os.path.getsize(path)
    return total
