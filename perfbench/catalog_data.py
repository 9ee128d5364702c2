"""Deterministic generator for the catalog tables.

Writes the ten tables the catalog reads (``plans.catalog.TABLES``) as one
parquet file each, with the schemas and value ranges of the project's
synthetic TPC-H-ish test data (TESTDATA.md): same column names and types, same categorical
domains, same date ranges, documents drawn from the same 30-word
vocabulary with a share of "dup"-suffixed near-copies, and 64-dim
clustered embeddings. ``scale=1.0`` matches the row counts of sf0.01.

The output depends only on ``(scale, seed)``, so a shipped answer key
(see answer_key.py) stays valid for the benchmark's fixed catalog input.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"), pa.timestamp("us"))


def _days(start: dt.date, n_days: int, rng: np.random.Generator, size: int) -> pa.Array:
    offs = rng.integers(0, n_days + 1, size) * 86400.0
    return _ts(dt.datetime.combine(start, dt.time()), offs)


def _money(rng: np.random.Generator, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # Near-copy of an earlier document: the dedup and near-dup
            # entries need real clusters to find.
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup")
            continue
        k = int(rng.integers(8, 100))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def build_tables(scale: float = 1.0, seed: int = 0) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_line, n_evt = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_docs, n_vecs, n_users = int(500 * scale), int(500 * scale), max(20, int(150 * scale))
    i32, i64 = np.int32, np.int64
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=i64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=i64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
        "o_orderstatus": [("P", "O", "F")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(dt.date(1995, 1, 1), 2404, rng, n_ord),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(i64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(i64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(i64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[j] for j in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(dt.date(1995, 1, 2), 2498, rng, n_line),
    })
    evt_secs = np.sort(rng.uniform(0, 30 * 86400.0, n_evt))
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=i64),
        "ts": _ts(dt.datetime(2024, 1, 1), evt_secs),
        "user_id": rng.integers(0, n_users, n_evt).astype(i64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_evt)],
        "value": np.round(np.clip(rng.exponential(60.0, n_evt), 0.01, 490.0), 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_evt)],
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def write_tables(out_dir: str, scale: float = 1.0, seed: int = 0) -> None:
    """Write every table to ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(scale, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

