"""Seeded generator for the star-schema + events/documents/embeddings tables
the registry queries read (one parquet file per table, same names, column
names and physical types as the project's test data).

The same (seed, sf) always produces byte-identical column values. Sizes
follow the test data's scale rules: customer 150k*sf, supplier 10k*sf,
part 200k*sf, orders 1.5M*sf, lineitem ~4 lines per order, events 1M*sf,
documents max(500, 50k*sf), embeddings max(500, 20k*sf).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "old", "cold", "hot", "new", "large", "small", "blue"]
PART_NOUN = ["bolt", "anvil", "plate", "widget", "gear", "ring", "rod", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ["row", "the", "query", "stream", "key", "agg", "scan", "slow", "table",
         "part", "a", "merge", "window", "order", "column", "join", "vector",
         "value", "hash", "batch", "sort", "data", "big", "filter", "fast",
         "spark", "line", "small", "customer", "group"]

US_PER_DAY = 86_400_000_000


def _ts(days_from_epoch, extra_us=None):
    us = days_from_epoch.astype(np.int64) * US_PER_DAY
    if extra_us is not None:
        us = us + extra_us
    return pa.array(us, type=pa.timestamp("us"))


def _days(y, m, d):
    return int((np.datetime64(f"{y:04d}-{m:02d}-{d:02d}") - np.datetime64("1970-01-01")).astype(int))


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(1, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    pk = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1))})

    d0, d1 = _days(1995, 1, 1), _days(2001, 8, 1)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, n_ord)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})

    okey = np.sort(rng.integers(0, n_ord, n_line))
    # line numbers count up within each order (1, 2, ...), capped at 7
    first = np.r_[0, np.flatnonzero(np.diff(okey)) + 1]
    starts = np.repeat(first, np.diff(np.r_[first, n_line]))
    linenum = np.minimum(np.arange(n_line) - starts + 1, 7)
    keep = (np.arange(n_line) - starts) < 7
    okey, linenum = okey[keep], linenum[keep]
    m = len(okey)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, m), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, m)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, m)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, m)]),
        "l_shipdate": _ts(rng.integers(d0 + 1, _days(2001, 11, 4) + 1, m))})

    gaps = rng.integers(1, 2 * 30 * US_PER_DAY // n_evt, n_evt)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(_days(2024, 1, 1) * US_PER_DAY + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_evt), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)]),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])})

    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as the dedup queries expect
            texts.append(texts[rng.integers(0, i)] + " dup" * int(rng.integers(1, 3)))
        else:
            n = int(rng.integers(8, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)]))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.5 + rng.normal(0, 1, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
