"""Seeded generator for the registry workloads' input tables.

Writes the ten tables the registry reads (``catalog.TABLES``), one parquet
file each, with the schemas and value shapes of the TPC-H-ish fixtures the
engine is developed against: uniform foreign keys, 1995–2001 order and ship
dates, a month of events in 2024 with exponential gaps and values, documents
over a 30-word vocabulary of which 5% are a copy of another document plus
``" dup"``, and 64-dim unit embeddings with a weak per-label component.

Row counts scale with ``sf`` the way the fixtures do (lineitem 6M × sf).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("red", "small", "blue", "hot", "old", "large", "cold", "green")
PART_NOUN = ("ring", "widget", "bolt", "gear", "plate", "rod", "gizmo", "nut")
PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "STANDARD", "LARGE", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EMBED_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (d - _EPOCH.date()).days


def _day_ts(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    days = rng.integers(_days(lo), _days(hi) + 1, n).astype("int64")
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.random() < 0.05:
            texts.append(texts[rng.integers(len(texts))] + " dup")
        else:
            words = rng.choice(len(WORDS), rng.integers(10, 100))
            texts.append(" ".join(WORDS[w] for w in words))
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    labels = rng.integers(0, 10, n).astype("int32")
    centers = rng.normal(size=(10, EMBED_DIM))
    vecs = rng.normal(size=(n, EMBED_DIM)) + 0.15 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype("float32").ravel(), pa.float32())
    return {
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype="int32")), flat
        ),
        "label": labels,
    }


def make_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table for scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype="int32"), "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype="int32") % 5,
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in rng.integers(0, 8, (n_part, 2))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": [("P", "O", "F")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _day_ts(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("R", "A", "N")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _day_ts(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    start_us = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds() * 1e6)
    gaps = rng.exponential(30 * 86_400 * 1e6 / n_ev, n_ev).astype("int64")
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(start_us + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev).astype("int64"),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write(out_dir, "documents", _documents(rng, max(500, int(50_000 * sf))))
    _write(out_dir, "embeddings", _embeddings(rng, max(500, int(20_000 * sf))))
