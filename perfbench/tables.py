"""Seeded generator for the star-schema tables the operator queries read.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each, with the column names and
types the queries expect (see ``FIXTURES.md`` section 3). Row counts scale
with ``sf`` like the reference tables: 60,000 lineitem rows at sf 0.01.

The generator is numpy + pyarrow only, so it runs before Spark starts.
The same ``seed`` always writes byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
EMBED_DIM = 64
N_LABELS = 10
SEGMENTS = ("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "green")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
PART_TYPES = ("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Word-salad documents over a 30-word vocabulary; 5% are near
    duplicates (a prefix of another document plus a marker word), which is
    what the dedup and span operators look for."""
    texts: list[str] = []
    for _ in range(n):
        words = rng.choice(WORDS, size=int(rng.integers(8, 100)))
        texts.append(" ".join(words)[: int(rng.integers(44, 578))].strip())
    for i in rng.choice(n, size=n // 20, replace=False):
        src = texts[int(rng.integers(0, n))]
        texts[i] = src[: max(20, len(src) - int(rng.integers(0, 12)))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    """Unit vectors scattered around one centre per label."""
    centres = rng.normal(size=(N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, size=n).astype("int32")
    vecs = centres[labels] * 0.6 + rng.normal(size=(n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype("float32").ravel())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype="int32"))
    return {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table for scale factor ``sf``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_events = max(1_000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    n_users = max(100, int(15_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, size=n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, size=n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": pa.array(rng.choice(("O", "F", "P"), size=n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, size=n_ord)),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(("N", "A", "R"), size=n_line)),
        "l_linestatus": pa.array(rng.choice(("O", "F"), size=n_line)),
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(1, 2500, n_line) * DAY_US),
    })
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_events))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events, dtype="int64")),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype("int64")),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n_events)),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_vecs))
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_line, "events": n_events,
        "documents": n_docs, "embeddings": n_vecs,
    }
