"""Seeded generator for the query workloads' input tables.

Writes the ten parquet tables the `SparkEntry.queries` read (a TPC-H-like
star schema plus `events`, `documents` and `embeddings`) with the column
names, types and value domains of the sf tables the queries were written
against. The same (seed, sf) always yields the same tables.
"""
import os

import numpy as np
import pandas as pd

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EPOCH = np.datetime64("1995-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def sizes(sf):
    return {
        "customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pd.DataFrame({
        "n_nationkey": nk, "n_name": [f"NATION_{k}" for k in nk],
        "n_regionkey": (nk % 5).astype(np.int32)})
    c = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pd.DataFrame({
        "c_custkey": c, "c_name": [f"Customer#{k:09d}" for k in c],
        "c_nationkey": rng.integers(0, 25, len(c)).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, len(c)),
        "c_mktsegment": rng.choice(SEGMENTS, len(c))})
    s = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pd.DataFrame({
        "s_suppkey": s, "s_name": [f"Supplier#{k:09d}" for k in s],
        "s_nationkey": rng.integers(0, 25, len(s)).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, len(s))})
    p = np.arange(n["part"], dtype=np.int64)
    out["part"] = pd.DataFrame({
        "p_partkey": p,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, len(p)), rng.integers(0, 8, len(p)))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(p))],
        "p_type": rng.choice(PART_TYPES, len(p)),
        "p_size": rng.integers(1, 51, len(p)).astype(np.int32),
        "p_retailprice": np.round(900.0 + (p % 1000) / 10.0, 2)})
    o = np.arange(n["orders"], dtype=np.int64)
    odays = rng.integers(0, 2404, len(o))
    # every customer orders at least once (the seed-42 tables' shape, where
    # the anti-join query returns no rows), the rest are uniform
    ocust = rng.integers(0, len(c), len(o))
    ocust[rng.permutation(len(o))[:len(c)]] = c
    out["orders"] = pd.DataFrame({
        "o_orderkey": o, "o_custkey": ocust,
        "o_orderstatus": rng.choice(["F", "O", "P"], len(o)),
        "o_totalprice": money(rng, 1000.0, 500_000.0, len(o)),
        "o_orderdate": EPOCH + odays * DAY_US,
        "o_orderpriority": rng.choice(PRIORITIES, len(o))})
    m = n["lineitem"]
    lo = rng.integers(0, len(o), m)
    qty = rng.integers(1, 51, m).astype(np.float64)
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": lo, "l_partkey": rng.integers(0, len(p), m),
        "l_suppkey": rng.integers(0, len(s), m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(19.0, 2100.0, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": EPOCH + (odays[lo] + rng.integers(1, 95, m)) * DAY_US})
    e = np.arange(n["events"], dtype=np.int64)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * DAY_US, len(e)))
    out["events"] = pd.DataFrame({
        "event_id": e, "ts": start + ts,
        "user_id": rng.integers(0, max(15, len(e) // 67), len(e)),
        "event_type": rng.choice(EVENT_TYPES, len(e)),
        "value": money(rng, 0.01, 490.0, len(e)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, len(e))]})
    nd = n["documents"]
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100)))
             for _ in range(nd)]
    # 5% near-duplicates: an earlier-or-later document's text plus " dup"
    for i in rng.permutation(nd)[:nd // 20]:
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(nd, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{k % 20}" for k in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = n["embeddings"]
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, nv)
    vec = centers[label] + rng.normal(scale=1.5, size=(nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(nv, dtype=np.int64), "embedding": list(vec),
        "label": label.astype(np.int32)})
    return out


def write(seed, sf, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(seed, sf).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
