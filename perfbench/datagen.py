"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the query registry reads (TPC-H-like star schema,
``events``, ``documents``, ``embeddings``) as one parquet file each, with
the column names, types and value domains of the repository's test
fixtures at scale factor 0.01.  The same seed gives byte-identical
tables; every column is drawn independently, as in those fixtures.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts at scale factor 0.01.
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150
EMBEDDING_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
#: Share of documents that copy an earlier one and append " dup".
NEAR_DUP_SHARE = 0.05

ORDER_EPOCH = datetime(1995, 1, 1)
SHIP_EPOCH = datetime(1995, 1, 2)
EVENT_EPOCH = datetime(2024, 1, 1)


def _strs(values) -> pa.Array:
    return pa.array(values, pa.string())


def _days(rng, epoch: datetime, span: int, n: int) -> pa.Array:
    base = np.datetime64(epoch, "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _strs(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": _strs(f"NATION_{i}" for i in range(25)),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": _strs(f"Customer#{i:09d}" for i in range(n["customer"])),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _strs(rng.choice(SEGMENTS, n["customer"])),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": _strs(f"Supplier#{i:09d}" for i in range(n["supplier"])),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
        "p_name": _strs(rng.choice(names, n["part"])),
        "p_brand": _strs(f"Brand#{b}" for b in rng.integers(1, 26, n["part"])),
        "p_type": _strs(rng.choice(PART_TYPES, n["part"])),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(rng.integers(9000, 10000, n["part"]) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": _strs(rng.choice(["F", "O", "P"], n["orders"])),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(rng, ORDER_EPOCH, 2405, n["orders"]),
        "o_orderpriority": _strs(rng.choice(PRIORITIES, n["orders"])),
    })
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100,
        "l_tax": rng.integers(0, 9, m) / 100,
        "l_returnflag": _strs(rng.choice(["A", "N", "R"], m)),
        "l_linestatus": _strs(rng.choice(["F", "O"], m)),
        "l_shipdate": _days(rng, SHIP_EPOCH, 2499, m),
    })
    e = n["events"]
    offsets_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, e))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(
            np.datetime64(EVENT_EPOCH, "us") + offsets_us.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, e), pa.int64()),
        "event_type": _strs(rng.choice(EVENT_TYPES, e)),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": _strs(f'{{"k": {k}}}' for k in rng.integers(0, 100, e)),
    })
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": _strs(texts),
        "lang": _strs(rng.choice(LANGS, d, p=LANG_WEIGHTS)),
        "source": _strs(f"src{i % 20}" for i in range(d)),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    v = n["embeddings"]
    vecs = rng.standard_normal((v, EMBEDDING_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(v), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), pa.int32()),
    })
    return t


def generate(out_dir: str, seed: int) -> list[str]:
    """Write every table as ``<out_dir>/<name>.parquet``; return the names."""
    os.makedirs(out_dir, exist_ok=True)
    tables = _tables(np.random.default_rng(seed))
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return sorted(tables)
