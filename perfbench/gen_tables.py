#!/usr/bin/env python3
"""Seeded fixture tables for the benchmark, in the shape the library's
loaders expect (region nation customer supplier part orders lineitem
events documents embeddings, one parquet file each).

Row counts follow the fixtures' scale factor: at sf=0.01 there are
1 500 customers, 15 000 orders, ~60 000 line items, 10 000 events and
500 documents. Column types match the fixtures (timestamp[us] without a
zone, list<float> embeddings). The same (seed, sf) always writes the
same rows.

Usage: python3 gen_tables.py <out_dir> <seed> <sf> [table,...]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
COLORS = ["small", "red", "blue", "green", "black", "white", "large", "tiny"]
NOUNS = ["ring", "widget", "bolt", "nut", "gear", "valve", "spring", "pipe"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01


def _ts(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_evt = max(50, int(1_000_000 * sf))
    n_doc = max(20, int(50_000 * sf))

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": price})

    odate = EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("P", "O", "F")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_num = (np.arange(n_li) - starts + 1).astype(np.int32)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[l_part] * rng.uniform(0.9, 2.3, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odate[l_order] + rng.integers(1, 122, n_li) * DAY_US)})

    gaps = rng.integers(1_000_000, 520_000_000, n_evt)
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(EPOCH_2024_US + np.cumsum(gaps)),
        "user_id": rng.integers(0, 150, n_evt),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
        "value": np.round(rng.uniform(0.01, 490.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    out["documents"] = documents(rng, n_doc)

    n_emb = n_doc
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.35 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array([v.astype(np.float32) for v in vecs],
                              type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return out


def documents(rng, n):
    """Random-word documents with a planted near-duplicate share: 5% of
    documents repeat an earlier one with one word appended."""
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def main(out_dir, seed, sf, only=None):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        if only is None or name in only:
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]),
         set(sys.argv[4].split(",")) if len(sys.argv) > 4 else None)
