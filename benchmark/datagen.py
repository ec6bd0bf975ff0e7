"""Synthetic catalog tables for the benchmark.

Writes the ten tables the engine's catalog knows (`sources/tables.py`)
as one parquet file each, with the schemas, row counts and value
distributions of the TPC-H-style star schema plus `events`,
`documents` and `embeddings` that the queries and their DuckDB oracles
expect. The tables depend only on the data seed and scale factor, so
every benchmark run reads the same bytes; `tablecheck.py` compares
them column by column with another catalog directory.

Row counts follow the catalog's scale rule: TPC-H tables scale with
`sf`; `documents` and `embeddings` never drop below 500 rows.
"""

from __future__ import annotations

import datetime as dt
import json
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
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_DAY_US = 86_400_000_000
DATA_SEED = 42


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> pa.Array:
    """n midnight timestamps drawn uniformly from [start, end]."""
    epoch = dt.date(1970, 1, 1)
    lo, hi = (start - epoch).days, (end - epoch).days
    us = rng.integers(lo, hi + 1, n).astype(np.int64) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with exactly two decimals (cents drawn as ints)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _rounded_uniform(rng: np.random.Generator, hi: float, n: int) -> np.ndarray:
    """Uniform on [0, hi] rounded to cents: the end points get half the
    weight of the inner values."""
    return np.round(rng.uniform(0.0, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, sf: float = 0.01, seed: int = DATA_SEED) -> dict[str, int]:
    """Write every catalog table under `out_dir`; return row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = round(150_000 * sf)
    n_supp = round(10_000 * sf)
    n_part = round(200_000 * sf)
    n_ord = round(1_500_000 * sf)
    n_line = round(6_000_000 * sf)
    n_evt = round(1_000_000 * sf)
    n_user = round(15_000 * sf)
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))

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
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": keys,
        "p_name": np.char.add(
            np.char.add(rng.choice(PART_ADJ, n_part), " "), rng.choice(PART_NOUN, n_part)
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": _rounded_uniform(rng, 0.1, n_line),
        "l_tax": _rounded_uniform(rng, 0.08, n_line),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
    })
    start_us = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_evt)) + start_us
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_evt),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)],
    })
    # One document in twenty is another document's text plus a " dup"
    # marker, so the dedup and near-dup plans find real pairs (and,
    # through chains, a few "dup dup" triples).
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))) for _ in range(n_doc)
    ]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_evt, "documents": n_doc, "embeddings": n_emb,
    }
