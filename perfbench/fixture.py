"""Seeded base fixture for the registry_mix workload.

Writes the ten tables of ``coldata_spark.tables.TABLES`` as single parquet
files with the schemas and value domains of the synthetic fixtures in
FIXTURES.md: a TPC-H-ish star schema, an events stream, and the
documents/embeddings pair.  ``tools.replicate.replicate_fixture`` then
scales it into the tier the workload queries.  Row counts follow the
fixtures' scale-factor rule (lineitem ~ 6M x sf).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.gen import vocabulary

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLORS = ["red", "blue", "green", "black", "white", "small", "large", "shiny"]
NOUNS = ["widget", "ring", "anvil", "bolt", "gear", "spring", "valve", "lamp"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
LANGS = ["en", "de", "es", "fr", "zh"]
DIM = 64
_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00 in epoch micros


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _strs(prefix: str, keys: np.ndarray, width: int = 9) -> list[str]:
    return [f"{prefix}{k:0{width}d}" for k in keys.tolist()]


def write_fixture(out_dir: str, seed: int, sf: float) -> str:
    """Write every table under ``out_dir`` as ``<name>.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_docs = max(500, int(50_000 * sf))

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    ck = np.arange(n_cust)
    put("customer", {
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": _strs("Customer#", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp)
    put("supplier", {
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": _strs("Supplier#", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part)
    retail = np.round(900.0 + (pk % 1000) / 10.0, 2)
    put("part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [
            f"{COLORS[c]} {NOUNS[n]}"
            for c, n in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    ok = np.arange(n_orders)
    odate = _EPOCH_1995 + rng.integers(0, 2404, n_orders) * _DAY_US
    put("orders", {
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_orders)],
    })
    lines = rng.integers(1, 8, n_orders)  # 1..7 lines per order, ~4 avg
    l_order = np.repeat(ok, lines)
    n_li = len(l_order)
    l_line = np.concatenate([np.arange(1, n + 1) for n in lines.tolist()])
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li) * _DAY_US
    put("lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_line, pa.int32()),
        "l_quantity": qty,
        # whole hundreds: every price x (1 - discount) x (1 + tax) product
        # then has at most 2 decimals, so no rounded sum lands on a
        # half-cent where Spark's and DuckDB's rounding may differ
        "l_extendedprice": np.round(qty * retail[l_part] / 100.0) * 100.0,
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ship),
    })
    n_events = int(1_000_000 * sf)
    put("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(_EPOCH_1995 + np.sort(rng.integers(0, 400 * _DAY_US, n_events))),
        "user_id": pa.array(rng.integers(0, max(1, n_events // 10), n_events), pa.int64()),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0.0, 100.0, n_events), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 10, n_events)],
    })
    words = vocabulary()[:64]
    texts = []
    for i in range(n_docs):
        if i % 10 == 9:  # every tenth doc repeats an earlier one (dedup input)
            texts.append(texts[i - 5])
            continue
        toks = rng.integers(0, len(words), int(rng.integers(8, 80)))
        texts.append(" ".join(words[t] for t in toks))
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[g] for g in rng.integers(0, 5, n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_docs)
    centers = rng.standard_normal((10, DIM))
    vecs = centers[labels] + 0.5 * rng.standard_normal((n_docs, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out_dir
