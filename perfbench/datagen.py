"""Deterministic synthetic sources with the shipped test-data schemas.

The benchmark may read nothing outside its checkout, so it generates its
sources instead of copying the shipped test data.  Table *content* is a
pure function of ``scale`` and the fixed ``CONTENT_SEED``: every seed of a
workload sees the same rows, so output digests agree across seeds.  The
workload seed only permutes the row order inside each file (the same
one-file-per-table layout the test data ships), which is what the engine
and the registry queries must be insensitive to.

Scale follows the test data: ``scale=0.1`` gives 600k lineitem, 150k
orders, 100k events, 15k customers, 5k documents and 2k embeddings.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
EMB_DIM = 64

EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86400
ORDERS_START = dt.datetime(1995, 1, 1)
ORDERS_SPAN_DAYS = 2404          # through 2001-08-01


def _ts(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((start - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _star_tables(rng, scale: float) -> dict[str, pa.Table]:
    n_cust = max(int(150_000 * scale), 10)
    n_ord = max(int(1_500_000 * scale), 10)
    n_part = max(int(200_000 * scale), 10)
    n_supp = max(int(10_000 * scale), 10)
    n_ev = max(int(1_000_000 * scale), 10)
    n_users = max(int(15_000 * scale), 10)

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{WORDS[i % 31]} {WORDS[(i // 31) % 31]}"
                   for i in range(n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 2)})

    order_day = rng.integers(0, ORDERS_SPAN_DAYS, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(ORDERS_START, order_day * 86_400_000_000),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})

    lines = rng.integers(1, 8, n_ord)              # 1..7 lines, mean 4
    l_order = np.repeat(np.arange(n_ord), lines)
    n_li = len(l_order)
    l_linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    ship_day = order_day[l_order] + rng.integers(1, 122, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ORDERS_START, ship_day * 86_400_000_000)})

    ev_us = np.sort(rng.integers(0, EVENTS_SPAN_S * 1_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EVENTS_START, ev_us),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 500, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return t


def _vector_tables(rng, scale: float) -> dict[str, pa.Table]:
    n_doc = max(int(50_000 * scale), 20)
    n_emb = max(int(20_000 * scale), 20)

    # random texts over a 31-word vocabulary, plus ~3% near-copies of an
    # earlier document (two words replaced) so the dedup lanes find pairs
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.03:
            w = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(w), 2):
                w[j] = WORDS[int(rng.integers(0, 31))]
        else:
            w = [WORDS[k] for k in rng.integers(0, 31, int(rng.integers(10, 100)))]
        texts.append(" ".join(w))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})

    # unit-norm gaussian vectors; ~3% are small perturbations of an
    # earlier vector (near-duplicates for the embedding dedup lanes)
    x = rng.standard_normal((n_emb, EMB_DIM))
    for i in range(11, n_emb):
        if rng.random() < 0.03:
            x[i] = x[int(rng.integers(0, i))] + 0.05 * rng.standard_normal(EMB_DIM)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return {"documents": documents, "embeddings": embeddings}


def generate(out_dir: str, seed: int, star_scale: float,
             vector_scale: float) -> dict[str, int]:
    """Write every test-data table as ``<out_dir>/<name>.parquet`` (one
    file, one row group) with rows in seed-permuted order; returns the
    row count per table.  The star tables and the vector tables draw
    from separate content streams, so each family's rows depend only on
    its own scale."""
    tables = (_star_tables(np.random.default_rng([CONTENT_SEED, 0]), star_scale)
              | _vector_tables(np.random.default_rng([CONTENT_SEED, 1]),
                               vector_scale))
    order = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in tables.items():
        tbl = tbl.take(pa.array(order.permutation(tbl.num_rows)))
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(tbl.num_rows, 1))
        counts[name] = tbl.num_rows
    return counts
