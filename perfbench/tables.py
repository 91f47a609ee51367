"""Seeded TPC-H-shaped Parquet tables for the query_mix workload.

Schemas and value domains follow the tables the registry queries were
written against (FIXTURES.md F2): the region → nation → customer/supplier →
orders → lineitem star, an ``events`` stream, ``documents`` with
near-duplicate texts, and 64-dim ``embeddings``. Row counts scale with
``sf`` the way the F2 tables do (lineitem ≈ 6M × sf).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]
_ADJ = ["small", "red", "green", "blue", "large", "shiny", "matte", "heavy"]
_NOUN = ["ring", "widget", "gear", "bolt", "panel", "valve", "spring", "lever"]
_EVENT_TYPES = ["click", "view", "purchase", "error", "scroll"]
_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a the line "
    "sort window data column join small customer query order group filter big stream "
    "of and to in is it index shard cache plan"
).split()
_EPOCH_1992 = np.datetime64("1992-01-01", "us")
_DAY_US = 86_400_000_000


def _write(root: str, name: str, cols: dict) -> int:
    path = os.path.join(root, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Random word texts. One in ten documents is the base of a cluster
    and one in six an edited copy of a cluster base, so the near-duplicate
    queries find pairs and small star-shaped clusters of similar size on
    every seed."""
    out: list[str] = []
    bases: list[int] = []
    for i in range(n):
        if bases and i % 6 == 5:
            toks = out[bases[int(rng.integers(0, len(bases)))]].split()
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            toks = [_WORDS[j] for j in rng.integers(0, len(_WORDS), int(rng.integers(20, 80)))]
            if i % 10 == 0:
                bases.append(i)
        out.append(" ".join(toks))
    return out


def generate(root: str, seed: int, sf: float) -> dict:
    """Write the ten tables under ``root``; return their byte sizes."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_orders, n_events = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs = n_vecs = max(500, int(50_000 * sf))
    sizes = {}
    sizes["region"] = _write(root, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    sizes["nation"] = _write(root, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    sizes["customer"] = _write(root, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    sizes["supplier"] = _write(root, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    sizes["part"] = _write(root, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    order_day = rng.integers(0, 2557, n_orders)  # 1992-01-01 .. 1998-12-31
    sizes["orders"] = _write(root, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
        "o_orderdate": pa.array(_EPOCH_1992 + order_day * _DAY_US, pa.timestamp("us")),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_orders), lines)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    partkey = rng.integers(0, n_part, n_li)
    ship_day = order_day[l_order] + rng.integers(1, 122, n_li)
    sizes["lineitem"] = _write(root, "lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + (partkey % 1000) / 10.0), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_EPOCH_1992 + ship_day * _DAY_US, pa.timestamp("us")),
    })
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(rng.integers(1, 400_000_000, n_events))
    sizes["events"] = _write(root, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(50, n_events // 100), n_events), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0.0, 100.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = _texts(rng, n_docs)
    sizes["documents"] = _write(root, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [("en", "de", "fr")[i] for i in rng.integers(0, 3, n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 5, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    sizes["embeddings"] = _write(root, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 8, n_vecs), pa.int32()),
    })
    return sizes
