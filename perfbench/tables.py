"""Seeded star-schema tables for the ``batch_headline`` workload.

Same table names, column names and types, and value shapes as the
engine's test data (TPC-H-like ``region``/``nation``/``customer``/
``supplier``/``part``/``orders``/``lineitem`` plus ``events``,
``documents`` and ``embeddings``), at the sizes of its smallest scale
factor. Every value comes from ``numpy.random.default_rng(seed)``, so
one seed gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
    "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500,
}
EVENT_USERS = 15
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
]
LANGS = (["en", "de", "es", "fr", "zh"], [0.44, 0.14, 0.14, 0.14, 0.14])


def _days(rng, start: str, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + rng.integers(0, n_days, n) * np.timedelta64(86400, "s"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n["part"]), pa.int64()),
            "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                       for _ in range(n["part"])],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n["orders"]),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
        }),
    }
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100,
        "l_tax": rng.integers(0, 9, m) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(rng, "1995-01-02", 2499, m),
    })
    e = n["events"]
    ts_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    out["events"] = pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, e), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.exponential(50, e) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i > 10 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(d), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS[0], d, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    v = n["embeddings"]
    vec = rng.normal(size=(v, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(v), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), pa.int32()),
    })
    return out


def write_tables(seed: int, sf_dir: str) -> str:
    """Write every table as ``<sf_dir>/<name>.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
    return sf_dir
