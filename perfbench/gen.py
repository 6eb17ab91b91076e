"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of ``seed``:

* ``write_fixture`` writes the ten fixture-shaped tables (region, nation,
  customer, supplier, part, orders, lineitem, events, documents,
  embeddings) as one parquet file each, with the schemas and value
  domains that FIXTURES.md documents, at ``sf`` scale (lineitem has
  ``6e6 * sf`` rows). The package's queries and their DuckDB oracles run
  on it unchanged.
* ``write_large`` writes the ``rebalance_large`` input: one Zipf-like key
  and random payload columns, split into a few parquet files.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
N_DOCS = 500
N_VECS = 500
N_USERS = 150
EMB_DIM = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: datetime, span_days: int, n: int) -> pa.Array:
    days = rng.integers(0, span_days + 1, n)
    base = np.datetime64(start, "us")
    return pa.array(base + days.astype("timedelta64[D]"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator) -> list[str]:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.1:
            # near-duplicate of an earlier document: a few words swapped,
            # so the dedup queries have candidate pairs to find
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 3):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            words.append("dup")
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return texts


def write_fixture(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten fixture tables under ``out_dir``; return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, datetime(1995, 1, 1), 2404, n_ord),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, datetime(1995, 1, 2), 2498, n_line),
    })
    span_us = int(timedelta(days=30).total_seconds() * 1e6)
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64(datetime(2024, 1, 1), "us")
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, N_USERS, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _documents(rng)
    _write(out_dir, "documents", {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, N_DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0.0, 0.1, (10, EMB_DIM))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (N_VECS, EMB_DIM))).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return {
        "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
        "part": n_part, "orders": n_ord, "lineitem": n_line, "events": n_ev,
        "documents": N_DOCS, "embeddings": N_VECS,
    }


# rebalance_large key: floor(1024 ** u) for u uniform in [0, 1) is a
# log-uniform (Zipf-like, density ~ 1/k) key over 1..1023 whose most
# common value, 1, holds log(2)/log(1024) = 10% of the rows.
LARGE_KEY_BASE = 1024


def write_large(out_dir: str, n_rows: int, seed: int, files: int) -> int:
    """Write the ``rebalance_large`` input under ``out_dir`` as ``files``
    parquet files: ``n_rows`` rows of (id, Zipf-like key k, two random
    longs, a random 16-digit hex string), ~40 bytes a row as parquet
    (random values do not compress). Return the row count of the most
    common key."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, n_rows])
    k = np.floor(float(LARGE_KEY_BASE) ** rng.random(n_rows)).astype(np.int64)
    a, b = (rng.integers(-(2**63), 2**63 - 1, n_rows, dtype=np.int64) for _ in range(2))
    s = pa.array(np.frombuffer(rng.bytes(8 * n_rows).hex().encode(), dtype="S16")).cast(pa.string())
    table = pa.table({"id": np.arange(n_rows, dtype=np.int64), "k": k, "a": a, "b": b, "s": s})
    step = -(-n_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return int(np.bincount(k).max())
