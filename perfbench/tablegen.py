"""Seeded analytics tables for the query_mix workload.

Same table names, column names and parquet types as the engine's
synthetic analytics fixtures (TPC-H-like star schema plus events,
documents and embeddings), at a size set by ``scale`` (1.0 = 60,000
lineitem rows). Values follow the fixtures' documented domains, so the
registry queries' filters and joins select rows.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _write(root, name, cols):
    pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def generate(root, seed, scale=1.0):
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    n_cust = int(1500 * scale)
    n_supp = max(10, int(100 * scale))
    n_part = int(2000 * scale)
    n_ord = int(15000 * scale)
    n_line = int(60000 * scale)
    n_ev = int(10000 * scale)
    n_users = max(20, int(150 * scale))
    n_docs = int(500 * scale)
    n_emb = int(500 * scale)

    _write(root, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(root, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(root, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["MACHINERY", "FURNITURE", "BUILDING",
                                    "AUTOMOBILE", "HOUSEHOLD"], n_cust)})
    _write(root, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adjs = ["red", "small", "hot", "old", "large", "blue", "new", "cold"]
    nouns = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "nut"]
    _write(root, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO",
                              "SMALL", "ECONOMY"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    _write(root, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_line).astype(float)
    _write(root, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["R", "A", "N"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n_line),
                               pa.timestamp("us"))})
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10 ** 6, n_ev))
    _write(root, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") +
                       ev_us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(["signup", "error", "click", "view",
                                  "purchase"], n_ev),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.02:      # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
            continue
        words = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        if rng.random() < 0.05:                 # near-duplicate marker
            words.append("dup")
        texts.append(" ".join(words))
    _write(root, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 1.2, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(root, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    import sys
    import time
    t0 = time.time()
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
    print(f"{time.time() - t0:.2f}s")
