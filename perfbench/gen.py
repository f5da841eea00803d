"""Seeded input generator for the benchmark.

Writes the ten tables the program's queries read (region nation customer
supplier part orders lineitem events documents embeddings), one parquet
file each, with the same column names, types and value domains as the
program's reference data. Row counts follow the scale factor `sf`
(sf 0.1 = 150k orders); documents and embeddings keep a floor of 500 rows
so that the similarity gates have pairs to find. The same seed and scale
factor always give byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast row "
         "agg key query scan batch").split()
PART_WORDS = "anvil blue bolt cold gear gizmo hot large new old plate red ring rod small widget".split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400_000_000
DAY0_ORDERS = np.datetime64("1995-01-01", "us")
DAY0_EVENTS = np.datetime64("2024-01-01", "us")


def _ts(values):
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    """Uniform cents in [lo, hi], as doubles with two decimals."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    scale = sf / 0.1
    n_cust = max(15, int(15000 * scale))
    n_supp = max(10, int(1000 * scale))
    n_part = max(20, int(20000 * scale))
    n_ord = max(150, int(150000 * scale))
    n_events = max(100, int(100000 * scale))
    n_users = max(15, int(1500 * scale))
    n_docs = max(500, int(5000 * scale))
    n_vecs = max(500, int(2000 * scale))

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    w = rng.choice(PART_WORDS, (n_part, 2))
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in w]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1))})

    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["P", "O", "F"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(DAY0_ORDERS + order_days * US_PER_DAY),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})

    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(l_ord)
    perm = rng.permutation(n_li)
    l_ord, l_num = l_ord[perm], l_num[perm]
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = order_days[l_ord] + rng.integers(1, 95, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ord),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(l_num),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["N", "R", "A"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(DAY0_ORDERS + ship * US_PER_DAY)})

    ev_us = np.sort(rng.integers(0, 30 * US_PER_DAY, n_events))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": _ts(DAY0_EVENTS + ev_us),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])})

    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.15:
            # a near-duplicate of an earlier document: a few words edited
            base = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                base[int(rng.integers(0, len(base)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    vec = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32))})
    return out


def write(seed, sf, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


if __name__ == "__main__":
    import sys
    write(int(sys.argv[1]), float(sys.argv[2]), sys.argv[3])
