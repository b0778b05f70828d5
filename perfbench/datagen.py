"""Seeded synthetic inputs in the shape of the engine's testdata tables.

The benchmark may not read anything outside its checkout, so it makes the
TPC-H-ish star schema plus the ``events``, ``documents`` and ``embeddings``
tables itself.  Column names, types and value ranges follow the tables the
registry queries and the serving layer read (FIXTURES.md §5).  The same seed
always gives byte-identical tables.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: first event day of the ``events`` table; the 30 event days follow it
EVENT_DAY0 = datetime(2024, 1, 1)
EVENT_DAYS = 30
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "key agg row scan slow fast table value part hash a merge batch spark the "
    "line sort window order data column join small customer query group "
    "stream filter big vector"
).split()


def event_day_dates() -> list[str]:
    return [(EVENT_DAY0 + timedelta(days=d)).date().isoformat() for d in range(EVENT_DAYS)]


def _ts_array(seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(EVENT_DAY0, "us")
    return pa.array(base + (seconds * 1_000_000).astype("timedelta64[us]"))


def _days_array(start: str, days: np.ndarray) -> pa.Array:
    return pa.array(np.datetime64(start, "us") + days.astype("timedelta64[D]"))


def make_tables(seed: int, scale: float = 0.01) -> dict[str, pa.Table]:
    """All ten tables at ``scale`` (0.01 ≈ the sf0.01 testdata sizes)."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_ord = max(500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_evt = max(1_000, int(1_000_000 * scale))
    n_users = max(30, int(15_000 * scale))
    n_docs = max(100, int(50_000 * scale))
    n_vec = n_docs

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adjectives = ["small", "red", "blue", "hot", "cold", "old", "large", "green"]
    nouns = ["ring", "widget", "gizmo", "anvil", "bolt", "gear", "valve", "spring"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{adjectives[a]} {nouns[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"][i]
                for i in rng.integers(0, 6, n_part)
            ],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": _days_array("1995-01-01", order_days),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    l_order = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
            "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _days_array(
                "1995-01-01", order_days[l_order] + rng.integers(1, 122, n_line)
            ),
        }
    )
    evt_seconds = np.sort(rng.uniform(0, EVENT_DAYS * 86_400, n_evt))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": _ts_array(evt_seconds),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
            "value": np.round(rng.uniform(0.01, 500, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    words = np.array(_WORDS)
    texts = []
    for _ in range(n_docs):
        texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(25, 80))]))
    # a share of near-duplicates so the dedup queries have work to find
    for i in range(0, n_docs, 10):
        texts[i] = texts[(i * 7 + 3) % n_docs] + " row"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": [["de", "en", "es", "fr", "zh"][i] for i in rng.integers(0, 5, n_docs)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(size=(10, 64))
    vecs = (centers[labels] + 0.5 * rng.normal(size=(n_vec, 64))).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    """One single-row-group parquet file per table, as the testdata has."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
