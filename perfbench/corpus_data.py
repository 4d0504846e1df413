"""Seeded generator of the operator library's input tables: a
TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``, one parquet file per table with the column names and
types the queries expect. ``scale`` 0.01 gives 60k lineitem rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
WORDS = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
EMBED_DIM = 64


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out: str, seed: int, scale: float) -> None:
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 50)
    n_orders = max(int(1_500_000 * scale), 200)
    n_part = max(int(200_000 * scale), 64)
    n_supp = max(int(10_000 * scale), 10)
    n_events = max(int(1_000_000 * scale), 500)
    n_docs = max(int(50_000 * scale), 60)
    day_us = 86_400 * 1_000_000

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    order_days = rng.integers(0, 2400, n_orders)
    _write(out, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": [("P", "F", "O")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
        "o_orderdate": _ts("1995-01-01", order_days * day_us),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    lines = rng.integers(1, 8, n_orders)
    okeys = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = len(okeys)
    linenumber = np.concatenate([np.arange(1, n + 1) for n in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-01", (np.repeat(order_days, lines)
                                         + rng.integers(1, 121, n_li)) * day_us),
    })
    _write(out, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * day_us, n_events))),
        "user_id": rng.integers(0, max(n_cust // 10, 10), n_events).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(np.clip(rng.exponential(60.0, n_events), 0.01, 490.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.7, (n_docs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
