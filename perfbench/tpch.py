"""Deterministic TPC-H-shaped tables for the `analytics` workload.

Same table names, columns and arrow types as the star-schema test data
the registry queries are written against (region nation customer
supplier part orders lineitem events documents embeddings, one parquet
file each), generated here so the benchmark reads nothing outside its
own checkout. The generator seed is fixed: the tables are the same on
every run, and the workload seed only permutes the query order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
VOCAB = (
    "query row stream the spark line small fast group customer batch sort value hash "
    "filter big data dup part column order scan a slow agg key window table merge vector join"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["large", "hot", "cold", "small", "red", "blue", "old", "new"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_DOCUMENTS = 1000
N_EMBEDDINGS = 500
EMBED_DIM = 64


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), size=n, endpoint=True) / 100.0


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int), size=n, endpoint=True)).astype("datetime64[us]")


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def generate(out_dir: str, sf: float) -> str:
    """Write the ten tables for scale factor `sf` under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_events = int(1_500_000 * sf), int(1_000_000 * sf)

    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_orders, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_orders),
                "o_orderstatus": rng.choice(["O", "F", "P"], n_orders),
                "o_totalprice": _money(rng, 1000, 500_000, n_orders),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_orders),
                "o_orderpriority": rng.choice(PRIORITIES, n_orders),
            }
        ),
    }
    lines_per_order = rng.integers(1, 8, n_orders)
    n_lines = int(lines_per_order.sum())
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": np.repeat(np.arange(n_orders, dtype=np.int64), lines_per_order),
            "l_partkey": rng.integers(0, n_part, n_lines),
            "l_suppkey": rng.integers(0, n_supp, n_lines),
            "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines_per_order]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_lines),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
            "l_linestatus": rng.choice(["O", "F"], n_lines),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_lines),
        }
    )
    month_us = 30 * 24 * 3600 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_events)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(ts * 1000, pa.timestamp("ns")),
            "user_id": rng.integers(0, 1500, n_events),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": _money(rng, 0, 500, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts = [
        " ".join(rng.choice(VOCAB, int(n)))
        for n in rng.integers(10, 101, N_DOCUMENTS)
    ]
    for i in range(8):  # a few exact duplicates for the dedup legs
        texts[N_DOCUMENTS - 1 - i] = texts[i * 7]
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, N_DOCUMENTS, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    emb = rng.normal(0, 0.1, (N_EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, N_EMBEDDINGS).astype(np.int32),
        }
    )
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
