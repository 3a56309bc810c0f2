"""Seeded generator for the relational and corpus tables the registry
queries read (TESTDATA.md schema: region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings).

Column names, types, key, date and value ranges follow the reference
test data TESTDATA.md describes, with every column drawn independently
and uniformly as there, so the registry queries see the same shapes
(join fan-outs, group sizes, date ranges, duplicate rates).
``compare_shapes.py`` checks the queries' row and job counts against the
reference. One numpy PCG64 stream seeded from ``--seed`` feeds every
table, so the same seed gives the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"])
P_TYPES = np.array(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["signup", "error", "click", "view", "purchase"])
DAY = np.timedelta64(1, "D")
ORDER_START = np.datetime64("1995-01-01", "us")
EVENT_START = np.datetime64("2024-01-01", "us")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int, sf: float) -> None:
    """Write every table under ``out_dir`` as ``<table>.parquet``."""
    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = 500

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": P_TYPES[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    order_date = ORDER_START + rng.integers(0, 2405, n_ord) * DAY
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": order_date,
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]})

    n_li = 4 * n_ord
    li = {
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ORDER_START + rng.integers(1, 2500, n_li) * DAY,
    }
    _write(out_dir, "lineitem", li)

    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": EVENT_START + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_evt)).astype(
            "timedelta64[us]"),
        "user_id": rng.integers(0, max(n_cust // 10, 1), n_evt, dtype=np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_evt)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, 10, n_emb, dtype=np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n_emb, 64)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels})
