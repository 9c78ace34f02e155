"""Seeded generator for the engine's base tables.

Writes the ten parquet tables ``sources.tables.BASE_TABLES`` reads, with
the column names, types and value ranges of the TPC-H-ish star schema the
engine is built against (region / nation / customer / supplier / part /
orders / lineitem / events / documents / embeddings).  The same seed gives
the same tables, byte for byte in content.

Sizes follow a scale factor ``sf`` (customer = 150_000 * sf rows, as in
TPC-H).  The engine derives sites, competitors and POI from the customer,
supplier and part keys alone, so the geo world follows the scale, not the
seed; the seed changes the other columns and the documents.

The documents carry the duplicate structure the dedup layer is built for:
a few exact copies and ~5 % near copies (an earlier doc's text plus one
appended word).  Everything else is drawn from a 30-word vocabulary.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
PART_ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "pipe"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _ts(rng: np.random.Generator, n: int, lo: datetime, hi: datetime, unit: str) -> np.ndarray:
    span = int((hi - lo).total_seconds())
    if unit == "D":
        days = rng.integers(0, span // 86400 + 1, n)
        return np.datetime64(lo, "us") + days.astype("timedelta64[D]")
    us = rng.integers(0, span * 1_000_000, n)
    return np.datetime64(lo, "us") + us.astype("timedelta64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    texts = [" ".join(rng.choice(VOCAB, int(k))) for k in rng.integers(10, 101, n)]
    # near copies: an earlier doc's text plus one appended word (5 %)
    for i in rng.choice(np.arange(1, n), max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    # exact copies (~0.16 %, at least one)
    for i in rng.choice(np.arange(1, n), max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return texts


def generate(out_dir: str, seed: int, sf: float, docs: int | None = None) -> dict[str, int]:
    """Write every base table under ``out_dir``; returns row counts.
    ``docs`` overrides the scale's document count."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_c = max(150, int(150_000 * sf))
    n_s = max(10, int(10_000 * sf))
    n_p = max(200, int(200_000 * sf))
    n_o = max(1_500, int(1_500_000 * sf))
    n_l = max(6_000, int(6_000_000 * sf))
    n_e = max(1_000, int(1_000_000 * sf))
    n_d = docs or max(200, int(50_000 * sf))
    n_v = max(200, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    ck = np.arange(n_c, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_c),
    })
    sk = np.arange(n_s, dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2),
    })
    pk = np.arange(n_p, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_p), rng.choice(PART_NOUN, n_p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(PART_TYPES, n_p),
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_o), 2),
        "o_orderdate": _ts(rng, n_o, datetime(1995, 1, 1), datetime(2001, 8, 1), "D"),
        "o_orderpriority": rng.choice(PRIORITIES, n_o),
    })
    flags = rng.choice(["A", "N", "R"], n_l)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_o, n_l).astype(np.int64),
        "l_partkey": rng.integers(0, n_p, n_l).astype(np.int64),
        "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": flags,
        "l_linestatus": rng.choice(["O", "F"], n_l),
        "l_shipdate": _ts(rng, n_l, datetime(1995, 1, 2), datetime(2001, 11, 4), "D"),
    })
    ts = np.sort(_ts(rng, n_e, datetime(2024, 1, 1), datetime(2024, 1, 31), "us"))
    _write(out_dir, "events", {
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(1, n_c // 10), n_e).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_e),
        "value": np.round(np.minimum(rng.exponential(50.0, n_e), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    texts = _documents(rng, n_d)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.normal(0.0, 0.1, (n_v, 64)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_v, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_v).astype(np.int32),
    })
    return {
        "customer": n_c, "supplier": n_s, "part": n_p, "orders": n_o,
        "lineitem": n_l, "events": n_e, "documents": n_d, "embeddings": n_v,
    }
