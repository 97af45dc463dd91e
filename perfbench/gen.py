"""Seeded input synthesis for the benchmark.

Writes the ten tables the query board reads (the TPC-H-like star schema,
`events`, `documents`, `embeddings`) as parquet files with the same column
names, types and value domains the library's queries and oracle SQL expect.
The same seed always yields byte-identical inputs; two seeds differ in every
table but the fixed `region` and `nation`.
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = np.array(["en", "fr", "zh", "de", "es"])
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING",
                     "HOUSEHOLD"])
P_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
P_NOUN = ["ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve"]
P_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                    "PROMO"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
DAY_US = 86_400_000_000


def _days(rng, start, end, n):
    """`n` midnight timestamps drawn uniformly from [start, end]."""
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return (rng.integers(lo, hi + 1, n) * DAY_US).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(df, path):
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def documents(rng, n):
    """`n` documents: random vocabulary text, ~5% near-duplicates (an earlier
    document plus one token) and a handful of exact duplicates."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB)
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(vocab[words[pos:pos + ln]]))
        pos += ln
    near = rng.choice(np.arange(n // 2, n), n // 20, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, n // 2))] + " dup"
    exact = rng.choice(np.setdiff1d(np.arange(n // 2, n), near),
                       max(2, n // 600), replace=False)
    for i in exact:
        texts[i] = texts[int(rng.integers(0, n // 2))]
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n, dim=64, labels=10):
    """Unit vectors around `labels` weak class centroids."""
    lab = rng.integers(0, labels, n).astype(np.int32)
    cents = rng.normal(0, 0.5 / np.sqrt(dim), (labels, dim))
    x = rng.normal(0, 1 / np.sqrt(dim), (n, dim)) + cents[lab]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": list(x), "label": lab})


def _region(rng, sf):
    return pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                         "r_name": REGIONS})


def _nation(rng, sf):
    return pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})


def _customer(rng, sf):
    n = int(150_000 * sf)
    ck = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n)})


def _supplier(rng, sf):
    n = int(10_000 * sf)
    sk = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})


def _part(rng, sf):
    n = int(200_000 * sf)
    pk = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(P_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})


def _orders(rng, sf):
    n = int(1_500_000 * sf)
    return pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, int(150_000 * sf), n).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["O", "P", "F"]), n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": rng.choice(PRIORITIES, n)})


def _lineitem(rng, sf):
    n = int(6_000_000 * sf)
    return pd.DataFrame({
        "l_orderkey": rng.integers(0, int(1_500_000 * sf), n).astype(np.int64),
        "l_partkey": rng.integers(0, int(200_000 * sf), n).astype(np.int64),
        "l_suppkey": rng.integers(0, int(10_000 * sf), n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n)})


def _events(rng, sf):
    n = int(1_000_000 * sf)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + start
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.gamma(2.0, 40.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _documents(rng, sf):
    return documents(rng, int(50_000 * sf))


def _embeddings(rng, sf):
    return embeddings(rng, int(20_000 * sf))


# table name -> builder; the position is the table's stream of the seed
BUILDERS = {"region": _region, "nation": _nation, "customer": _customer,
            "supplier": _supplier, "part": _part, "orders": _orders,
            "lineitem": _lineitem, "events": _events,
            "documents": _documents, "embeddings": _embeddings}


def tables(seed, sf):
    """The board tables for `seed` at scale factor `sf`, as DataFrames. Each
    table draws from its own stream of the seed."""
    return {name: build(np.random.Generator(np.random.PCG64([seed, i])), sf)
            for i, (name, build) in enumerate(BUILDERS.items())}


def write_tables(seed, sf, out_dir):
    """Write the board tables under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(seed, sf).items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"))
