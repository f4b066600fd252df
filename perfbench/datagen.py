"""Seeded synthetic input tables for the benchmark.

Writes the ten tables the query registry reads (``region`` ... ``embeddings``)
as one parquet file each, with the same column names, types and value
distributions as the registry's reference test data (uniform keys, a 30-word
document vocabulary with 5% near-duplicate documents, unit-norm 64-d float32
embeddings). The same seed always produces byte-identical values.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table. Sized like the reference data's smallest scale factor so
# that one warm pass of a workload fits in a few seconds on four cores.
ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64
NEAR_DUP_FRAC = 0.05
EVENT_USERS = 15


def _ts(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def make_tables(seed: int) -> dict[str, pa.Table]:
    """Build every table in memory from ``seed``."""
    rng = np.random.default_rng(seed)
    r = ROWS
    day_us = 86_400 * 1_000_000
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = r["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": _names("Customer", n),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(SEGMENTS, n).tolist(),
        }
    )
    n = r["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": _names("Supplier", n),
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = r["part"]
    keys = np.arange(n)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, n), rng.choice(PART_NOUN, n))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(PART_TYPES, n).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
        }
    )
    n = r["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, r["customer"], n), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n).tolist(),
            "o_totalprice": _money(rng, 1000, 500_000, n),
            "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2404, n) * day_us),
            "o_orderpriority": rng.choice(PRIORITIES, n).tolist(),
        }
    )
    n = r["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, r["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, r["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, r["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n),
            "l_discount": rng.integers(0, 11, n) / 100,
            "l_tax": rng.integers(0, 9, n) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n).tolist(),
            "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2499, n) * day_us),
        }
    )
    n = r["events"]
    offsets = np.sort(rng.choice(30 * day_us, n, replace=False))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(dt.datetime(2024, 1, 1), offsets),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, n), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n).tolist(),
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    n = r["documents"]
    texts = [
        " ".join(rng.choice(VOCAB, int(k)))
        for k in rng.integers(10, 100, n)
    ]
    dups = rng.choice(n, int(n * NEAR_DUP_FRAC), replace=False)
    for i in dups:
        src = int(rng.integers(0, n - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    n = r["embeddings"]
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )
    return t


def write_tables(seed: int, out_dir: str) -> str:
    """Write every table to ``out_dir/<name>.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
