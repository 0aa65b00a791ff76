"""Seeded generator for the ten synthetic tables the registry queries scan.

The tables mirror the geometry and value domains of the engine's sf0.01
test tables (TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``) and carry the physical types of ``schemas.TESTDATA``. The
data seed is fixed, so every run of the benchmark scans identical bytes and
the workload seed only reorders the work; the expected results computed
from these files are therefore cached once per data identity.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the data seed; the workload seed never reaches the tables
DATA_SEED = 42

N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_LINEITEM = 60000
N_EVENTS = 10000
N_USERS = 150
N_DOCS = 500
N_VECS = 500
DIM = 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DUP_RATE = 0.05


def data_id() -> str:
    """Identity of the generated tables: this file's source plus the seed."""
    with open(__file__, "rb") as fh:
        src = fh.read()
    return hashlib.sha256(src + str(DATA_SEED).encode()).hexdigest()[:16]


def _ts(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    days = rng.integers(
        0, (np.datetime64(hi) - np.datetime64(lo)).astype(int) + 1, n
    )
    return (np.datetime64(lo) + days).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    out: dict[str, pa.Table] = {}
    i32, i64 = pa.int32(), pa.int64()

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(N_CUSTOMER), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(N_SUPPLIER), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    keys = np.arange(N_PART)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, i64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(PART_ADJ, N_PART), rng.choice(PART_NOUN, N_PART)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
            "p_type": rng.choice(PART_TYPES, N_PART),
            "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
            "p_retailprice": 900.0 + (keys % 1000) / 10.0,
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(N_ORDERS), i64),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": _ts(rng, "1995-01-01", "2001-08-01", N_ORDERS),
            "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
        }
    )
    n = N_LINEITEM
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), i64),
            "l_partkey": pa.array(rng.integers(0, N_PART, n), i64),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
            "l_quantity": rng.integers(1, 51, n).astype(float),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": _ts(rng, "1995-01-02", "2001-11-04", n),
        }
    )
    gaps = rng.exponential(259.0, N_EVENTS)
    micros = np.cumsum(np.round(gaps * 1e6).astype(np.int64))
    out["events"] = pa.table(
        {
            "event_id": pa.array(range(N_EVENTS), i64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + micros,
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), i64),
            "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
            "value": np.maximum(
                np.round(rng.exponential(50.0, N_EVENTS), 2), 0.01
            ),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 20 and rng.random() < DUP_RATE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), i64),
            "text": texts,
            "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0.0, 0.14, (10, DIM))
    raw = centers[labels] + rng.normal(0.0, 1.0, (N_VECS, DIM))
    unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(N_VECS), i64),
            "embedding": pa.array(list(unit), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return out


def ensure(cache_dir: str) -> str:
    """Write the tables once under ``cache_dir/data/<data_id>`` and return
    that directory. The write goes to a scratch directory that is renamed
    into place, so an interrupted run never leaves a partial table set."""
    final = os.path.join(cache_dir, "data", data_id())
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, final)
    return final
