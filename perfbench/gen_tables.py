"""Deterministic benchmark tables with the fixture schemas and value domains.

The ten tables (region ... embeddings) are generated at a fixed scale from a
fixed generator seed, so every run and every `--seed` sees the same table
bytes. Only the call order and the MicMac corpus depend on `--seed`; that
keeps the golden hashes in `golden.json` valid for every seed.

Shapes follow the fixture description: independent uniform columns, the
same key ranges and string domains, `events` ordered by time, `documents`
as word salad with a handful of planted near-duplicate pairs, and
64-dimensional embeddings that cluster by label.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 20240101
VERSION = "1"

# rows per table; the key ranges below derive from them
SIZES = {"orders": 15000, "lineitem": 60000, "customer": 1500,
         "supplier": 100, "part": 2000, "events": 10000,
         "documents": 500, "embeddings": 500, "users": 150}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "red", "blue", "green", "large", "steel", "black", "shiny"]
NOUN = ["ring", "widget", "bolt", "gear", "valve", "spring", "panel", "rod"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()

US = 1_000_000
DAY_US = 86_400 * US
EPOCH_1995 = 788_918_400 * US      # 1995-01-01T00:00:00Z
EPOCH_2024 = 1_704_067_200 * US    # 2024-01-01T00:00:00Z


def _ts(values_us):
    return pa.array(values_us, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def build(rng):
    n = SIZES
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(SEGMENTS, c)})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(p), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(PTYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2)})
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": rng.choice(STATUS, o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, o) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITY, o)})
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, li) * DAY_US)})
    e = n["events"]
    span = 30 * DAY_US
    ts = np.sort(rng.integers(0, span, e))
    t["events"] = pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": _ts(EPOCH_2024 + ts),
        "user_id": pa.array(rng.integers(0, n["users"], e), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng, d):
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 100))))
             for _ in range(d)]
    # plant near-duplicate pairs: a copy of an earlier text with a few
    # words swapped keeps its word-3-gram Jaccard high
    for k in range(6):
        src, dst = 20 + 37 * k, 300 + 29 * k
        words = texts[src].split(" ")
        for j in rng.integers(0, len(words), max(1, len(words) // 25)):
            words[j] = str(rng.choice(VOCAB))
        texts[dst] = " ".join(words)
    return pa.table({
        "doc_id": pa.array(range(d), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, d),
        "source": [f"src{i}" for i in rng.integers(0, 20, d)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def _embeddings(rng, m):
    centers = rng.normal(0.0, 0.12, (10, 64))
    labels = rng.integers(0, 10, m)
    vecs = (centers[labels] + rng.normal(0.0, 0.06, (m, 64))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def ensure(out_dir):
    """Write the tables once per checkout; reuse them when the version
    stamp matches."""
    stamp = os.path.join(out_dir, "VERSION")
    if os.path.exists(stamp) and open(stamp).read() == VERSION:
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build(np.random.default_rng(GENERATOR_SEED)).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(stamp, "w") as f:
        f.write(VERSION)
    return out_dir
