"""Seeded generator for the ten fixture tables the registry queries read.

The shapes follow FIXTURES.md (column names, types, value domains and row
counts per scale factor), so every registry query and its DuckDB oracle run
on these files exactly as on the shared fixtures. The values are synthetic:
the benchmark must build its inputs inside its own checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 3 + ["es", "zh", "de", "fr"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

N_DOCUMENTS = 500
N_EMBEDDINGS = 500
EMBED_DIM = 64
DUP_SHARE = 0.05

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every table at scale factor ``sf``; the same (sf, seed) gives the same bytes."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + order_days * _US_PER_DAY),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    ship_days = rng.integers(1, 2499, n_line)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995 + ship_days * _US_PER_DAY),
    })
    gaps = rng.exponential(30 * _US_PER_DAY / n_ev, n_ev).astype(np.int64) + 1
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
        "user_id": rng.integers(0, max(5, int(n_ev * 0.015)), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [" ".join(rng.choice(WORDS, int(n))) for n in rng.integers(10, 100, N_DOCUMENTS)]
    for i in rng.choice(N_DOCUMENTS, int(N_DOCUMENTS * DUP_SHARE), replace=False):
        texts[i] = texts[int(rng.integers(0, N_DOCUMENTS))].removesuffix(" dup") + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCUMENTS),
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_EMBEDDINGS, dtype=np.int32),
    })
    return t


def write(sf: float, seed: int, out_dir: str) -> str:
    """Write every table as ``out_dir/<name>.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
