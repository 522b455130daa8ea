"""Seeded star-schema tables with the schemas `graft.sources.Tables` loads.

Row counts follow the TPC-H ratios at scale factor `sf` (lineitem is
about 6 M x sf), except part, which is halved: the fuzzy-join oracle is a
full cross join over the part catalogue, and at the TPC-H ratio it alone
costs about 20 s of the correctness gate per run. Text and vectors carry the structure the text and similarity
queries exist to find: planted exact and near-duplicate documents, and a
planted neighbourhood around embedding 0, so that approximate operators
(LSH) meet their declared exact results on every seed.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "big", "green", "old"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "pipe", "valve", "spring", "nut"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "error", "purchase", "signup"]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, ndays, n):
    return (np.datetime64(start, "D") + rng.integers(0, ndays, n).astype("timedelta64[D]")
            ).astype("datetime64[us]")


def _write(root, name, cols, counts):
    t = pa.table(cols)
    pq.write_table(t, os.path.join(root, f"{name}.parquet"))
    counts[name] = t.num_rows


def generate(root, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    counts = {}
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(100_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(50_000 * sf))

    _write(root, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}, counts)
    _write(root, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}, counts)
    _write(root, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}, counts)
    _write(root, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}, counts)
    pk = np.arange(n_part)
    _write(root, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)}, counts)

    odate = _days(rng, "1995-01-01", 2404, n_ord)
    _write(root, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]}, counts)
    lines = rng.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord), lines)
    n_li = len(lok)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(float)
    _write(root, "lineitem", {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(odate[lok] + rng.integers(1, 122, n_li).astype(
            "timedelta64[D]"), pa.timestamp("us"))}, counts)

    # 30 days of events in arrival order
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    _write(root, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, n_ev // 70), n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(40, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}, counts)

    # documents: random word strings; 3% exact copies and 5% near copies
    # (one word appended, word-3-gram Jaccard >= 0.9) of earlier documents
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 50 and r < 0.03:
            texts.append(texts[rng.integers(0, i)])
        elif i > 50 and r < 0.08:
            src = [t for t in texts[max(0, i - 200):i] if len(t.split()) >= 30]
            base = src[rng.integers(0, len(src))] if src else " ".join(
                rng.choice(WORDS, 40))
            texts.append(base + " " + WORDS[rng.integers(0, len(WORDS))])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    _write(root, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}, counts)

    # embeddings: Gaussian background; 30 vectors planted near vector 0
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    near = rng.choice(np.arange(1, n_vec), 30, replace=False)
    vec[near] = vec[0] + 0.5 * rng.standard_normal((30, 64)).astype(np.float32)
    _write(root, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())}, counts)

    manifest = {"workload": "query_mix", "seed": seed, "sf": sf, "rows": counts}
    with open(os.path.join(root, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest
