"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine reads (`Tables.Names`) as one parquet
file each, with the physical layout of the engine's sf0.1 test data:
one row group, int32/int64/double/string columns, and naive
microsecond timestamps. Distributions follow that data:
uniform keys and codes, money with two decimals, exponential event
values, sorted event times over January 2024, 30-word documents of
10-100 words of which 5% are near-duplicates (an earlier text plus
" dup"), and unit-norm 64-d float embeddings with 10 labels.
"""
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows at sf0.1
SIZES = {"customer": 15000, "supplier": 1000, "part": 20000,
         "orders": 150000, "lineitem": 600000, "events": 100000,
         "documents": 5000, "embeddings": 2000}

WORDS = ("a the data spark stream batch query join filter group agg sort "
         "hash key value row column table part line order customer window "
         "scan merge vector fast slow big small").split()


def _codes(rng, n, values, p=None):
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(values)).cast(pa.string())


def _money(rng, n, lo, hi):
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, size=n) / 100.0, 2)


def _days(rng, n, first, last):
    span = (np.datetime64(last) - np.datetime64(first)).astype(int)
    d = np.datetime64(first) + rng.integers(0, span + 1, size=n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def _named(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys])


def base_tables(seed):
    """sf0.1 tables as pyarrow Tables, fully determined by `seed`."""
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = SIZES["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": _named("Customer", range(n)),
        "c_nationkey": rng.integers(0, 25, size=n, dtype=np.int32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": _codes(rng, n, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"])})
    n = SIZES["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": _named("Supplier", range(n)),
        "s_nationkey": rng.integers(0, 25, size=n, dtype=np.int32),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})
    n = SIZES["part"]
    adj = "blue cold hot large new old red small".split()
    noun = "anvil bolt gear gizmo plate ring rod widget".split()
    keys = np.arange(n, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": _codes(rng, n, [f"{a} {b}" for a in adj for b in noun]),
        "p_brand": _codes(rng, n, [f"Brand#{i}" for i in range(1, 26)]),
        "p_type": _codes(rng, n, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]),
        "p_size": rng.integers(1, 51, size=n, dtype=np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 1)})
    n = SIZES["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, SIZES["customer"], size=n, dtype=np.int64),
        "o_orderstatus": _codes(rng, n, ["F", "O", "P"]),
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _codes(rng, n, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"])})
    n = SIZES["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, SIZES["orders"], size=n, dtype=np.int64),
        "l_partkey": rng.integers(0, SIZES["part"], size=n, dtype=np.int64),
        "l_suppkey": rng.integers(0, SIZES["supplier"], size=n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, size=n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0, 10, size=n)) / 100.0,
        "l_tax": np.round(rng.uniform(0, 8, size=n)) / 100.0,
        "l_returnflag": _codes(rng, n, ["A", "N", "R"]),
        "l_linestatus": _codes(rng, n, ["F", "O"]),
        "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04")})
    n = SIZES["events"]
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, size=n)) + \
        np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, size=n, dtype=np.int64),
        "event_type": _codes(rng, n, ["click", "error", "purchase", "signup", "view"]),
        "value": np.round(rng.exponential(50.0, size=n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)])})
    n = SIZES["documents"]
    lens = rng.integers(10, 101, size=n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), size=k)]) for k in lens]
    # near-duplicates: 5% of documents repeat an earlier text plus " dup"
    for i in np.sort(rng.choice(np.arange(1, n), size=n // 20, replace=False)):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    t["documents"] = _documents(
        np.arange(n, dtype=np.int64), texts,
        _codes(rng, n, ["en", "de", "es", "fr", "zh"], p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475]),
        pa.array([f"src{i % 20}" for i in range(n)]))
    n = SIZES["embeddings"]
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": _unit_vectors(rng, n),
        "label": rng.integers(0, 10, size=n, dtype=np.int32)})
    return t


def _documents(ids, texts, lang, source):
    return pa.table({
        "doc_id": ids, "text": pa.array(texts), "lang": lang, "source": source,
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def _unit_vectors(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel())
    return pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat)


def write(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)

    def one(item):
        name, tab = item
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tab.num_rows), compression="snappy")
    with ThreadPoolExecutor(4) as pool:
        list(pool.map(one, tables.items()))


def generate(seed, out_dir):
    """Write the sf0.1 tables to `out_dir`."""
    write(base_tables(seed), out_dir)
