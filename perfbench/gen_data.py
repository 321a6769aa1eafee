#!/usr/bin/env python3
"""Seeded generator for the benchmark's fixture tables.

Writes one parquet file per table (`<out>/<table>.parquet`) with the
schemas, value domains and row counts of the repo's sf0.1 fixture
(FIXTURES.md section B): a TPC-H-style star schema plus `events`,
`documents` and `embeddings`. The same seed always gives byte-identical
files; a different seed gives different values with the same sizes and
distributions, so run-to-run timing differences come from the engine,
not from the input size. `run.py` and `duckdb_control.py` call
`generate`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at sf0.1
ROWS = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "events": 100000, "documents": 5000,
    "embeddings": 2000,
}
ALL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

DAY_US = 86_400_000_000


def _days(start: str, end: str) -> tuple:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return lo, hi


def _dates_us(rng, n, start, end):
    lo, hi = _days(start, end)
    return rng.integers(lo, hi + 1, n).astype("int64") * DAY_US


def _ts(values_us):
    return pa.array(values_us, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def region(rng):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS})


def nation(rng):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def customer(rng):
    n = ROWS["customer"]
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)]})


def supplier(rng):
    n = ROWS["supplier"]
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})


def part(rng):
    n = ROWS["part"]
    k = np.arange(n)
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n)]
    return pa.table({
        "p_partkey": pa.array(k, pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (k % 1000) / 10, 2)})


def orders(rng):
    n = ROWS["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n),
                              pa.int64()),
        "o_orderstatus": np.array(ORDER_STATUS)[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _ts(_dates_us(rng, n, "1995-01-01", "2001-08-01")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]})


def lineitem(rng):
    n = ROWS["lineitem"]
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n),
                               pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n),
                              pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(_dates_us(rng, n, "1995-01-02", "2001-11-04"))})


def events(rng):
    n = ROWS["events"]
    lo, _ = _days("2024-01-01", "2024-01-01")
    span = 30 * DAY_US
    # distinct, ascending microsecond timestamps: event_id follows ts
    ts = np.sort(rng.choice(span, n, replace=False)) + lo * DAY_US
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng):
    n = ROWS["documents"]
    words = np.array(WORDS)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:       # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.052:    # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     rng.integers(10, 101))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng):
    n = ROWS["embeddings"]
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * 64 + 1, 64), pa.int32()),
        pa.array(v.reshape(-1), pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def generate(seed: int, out: str, tables=ALL_TABLES) -> None:
    """Write the requested tables of `seed` under `out`; a table already
    there is kept, since a seed always gives the same bytes."""
    os.makedirs(out, exist_ok=True)
    for i, t in enumerate(ALL_TABLES):
        if t not in tables:
            continue
        # one stream per table: a table's values do not depend on which
        # other tables were requested
        rng = np.random.default_rng([seed, i])
        path = os.path.join(out, f"{t}.parquet")
        if os.path.exists(path):  # same seed, same bytes: reuse
            continue
        tmp = path + ".tmp"
        pq.write_table(globals()[t](rng), tmp, compression="snappy")
        os.replace(tmp, path)

