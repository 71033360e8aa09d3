"""Seeded generator for the benchmark's input tables.

Writes the TPC-H-like star schema plus the `events`, `documents` and
`embeddings` extension tables that the program's loaders expect
(`<dir>/<table>.parquet`, naive `timestamp[us]` columns), with the same
schemas and value ranges as the project's test fixtures. The same seed
and scale always give the same rows.

Row counts follow the scale factor `sf` the way TPC-H does
(orders = 1.5M x sf, lineitem ~ 4 x orders, ...).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "old", "large", "small", "green", "dark",
            "light", "cold", "new", "shiny", "plain"]
PART_NOUN = ["anvil", "bolt", "gear", "ring", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]

ALL = ["region", "nation", "customer", "supplier", "part", "orders",
       "lineitem", "events", "documents", "embeddings"]

EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def sizes(sf: float) -> dict:
    return {
        "customer": int(150_000 * sf), "supplier": max(20, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(200, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, span_days):
    return EPOCH_1995 + rng.integers(0, span_days, n) * np.timedelta64(1, "D")


def orders_table(rng, n: int) -> pa.Table:
    """`orders` rows keyed 0..n-1; also the CDC snapshot."""
    n_cust = max(1, n // 10)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n)),
        "o_orderdate": pa.array(_days(rng, n, 2404), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })


def _documents(rng, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 101))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    # near-duplicates: a few documents re-post another with one word edited
    for i in rng.choice(n, size=max(1, n // 25), replace=False):
        words = texts[int(rng.integers(0, n))].split()
        words[int(rng.integers(0, len(words)))] = "dup"
        texts[i] = " ".join(words)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int, d: int = 64) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (10, d))
    label = rng.integers(0, 10, n).astype(np.int32)
    v = centers[label] * 0.35 + rng.normal(0.0, 1.0, (n, d))
    # near-duplicate vectors: copies of another row plus a small jitter
    dup = rng.choice(n, size=max(1, n // 20), replace=False)
    v[dup] = v[rng.integers(0, n, dup.size)] + rng.normal(0.0, 0.01, (dup.size, d))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), d).cast(
        pa.list_(pa.float32()))
    return pa.table({"vec_id": pa.array(np.arange(n, dtype=np.int64)),
                     "embedding": emb, "label": pa.array(label)})


def build(name: str, rng, sf: float) -> pa.Table:
    s = sizes(sf)
    if name == "region":
        return pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                         "r_name": pa.array(REGIONS)})
    if name == "nation":
        k = np.arange(25, dtype=np.int32)
        return pa.table({"n_nationkey": pa.array(k),
                         "n_name": pa.array([f"NATION_{i}" for i in k]),
                         "n_regionkey": pa.array(k % 5)})
    if name == "customer":
        n = s["customer"]
        return pa.table({
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)])})
    if name == "supplier":
        n = s["supplier"]
        return pa.table({
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n))})
    if name == "part":
        n = s["part"]
        adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n)]
        noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n)]
        return pa.table({
            "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
            "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n)]),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n)]),
            "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) / 10, 2))})
    if name == "orders":
        return orders_table(rng, s["orders"])
    if name == "lineitem":
        n = s["lineitem"]
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, s["orders"], n, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, s["part"], n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, s["supplier"], n, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(_days(rng, n, 2499), pa.timestamp("us"))})
    if name == "events":
        n = s["events"]
        ts = np.sort(rng.integers(0, 30 * DAY_US, n))
        return pa.table({
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(EPOCH_2024 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, n // 66), n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})
    if name == "documents":
        return _documents(rng, s["documents"])
    if name == "embeddings":
        return _embeddings(rng, s["embeddings"])
    raise ValueError(f"unknown table {name}")


def write_tables(out_dir: str, seed: int, sf: float, names=ALL) -> dict:
    """Write each named table to `<out_dir>/<name>.parquet`; returns row counts.

    Every table draws from its own stream derived from (seed, table), so
    the rows of one table do not depend on which other tables are written.
    """
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name in names:
        rng = np.random.default_rng([seed, ALL.index(name)])
        t = build(name, rng, sf)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts

