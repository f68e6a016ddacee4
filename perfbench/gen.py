"""Seeded benchmark inputs.

The tables have the schema of the repository's star-schema test data
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) at a chosen scale factor. Their *contents* come from
a fixed content seed, so every benchmark seed sees the same rows and the
same oracle answers. The benchmark ``--seed`` only decides the physical
layout: the row order of every table and where each table is cut into part
files.

Two copies are written:

* ``<out>/spark/<table>.parquet/part-NNNNN.parquet`` is what the program
  reads: a directory of part files, split at seeded cut points.
* ``<out>/oracle/<table>.parquet`` is one file per table with the same rows
  in the same order, the layout the DuckDB oracle checker reads.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window small big data column join order group "
         "filter query customer vector stream").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EPOCH_US = 788918400 * 10**6  # 1995-01-01T00:00:00Z
DAY_US = 86400 * 10**6


def row_counts(sf):
    """Rows per table at scale factor `sf` (sf 0.1 is about 600k lineitems)."""
    n = lambda per_unit: max(1, int(round(per_unit * sf)))
    return {
        "region": 5, "nation": 25,
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": max(500, n(50_000)), "embeddings": max(500, n(20_000)),
    }


def _dates(rng, n, first_day, n_days):
    days = rng.integers(0, n_days, n)
    return pa.array(EPOCH_US + (first_day + days) * DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    texts = []
    for i in range(n):
        # one document in twenty is an earlier document plus a marker word:
        # the near-duplicate pairs the dedup operators look for
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_tables(sf):
    """The benchmark tables at scale `sf`, in key order. Seed-independent."""
    rng = np.random.default_rng(CONTENT_SEED)
    c = row_counts(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = c["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})
    n = c["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})
    n = c["part"]
    adj = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1)})
    n = c["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, c["customer"], n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": _dates(rng, n, 0, 2404),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})
    n = c["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, c["orders"], n),
        "l_partkey": rng.integers(0, c["part"], n),
        "l_suppkey": rng.integers(0, c["supplier"], n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _dates(rng, n, 1, 2499)})
    n = c["events"]
    # increasing event times over 30 days from 2024-01-01
    gaps = rng.exponential(30 * DAY_US / n, n)
    ts = 1704067200 * 10**6 + np.cumsum(gaps).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(round(15_000 * sf))), n),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    t["documents"] = _documents(rng, c["documents"])
    n = c["embeddings"]
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32)})
    return t


def cut_points(rng, rows, parts):
    """`parts - 1` sorted cut points splitting `rows` rows into non-empty,
    roughly even but seed-dependent pieces."""
    if rows < 2 * parts:
        return []
    even = np.linspace(0, rows, parts + 1)[1:-1]
    jitter = rng.uniform(-0.4, 0.4, parts - 1) * rows / parts
    return sorted(int(x) for x in np.clip(even + jitter, 1, rows - 1))


def write_inputs(out_dir, seed, sf, parts=4, tables=None):
    """Writes the seeded layout of every table under `out_dir` and returns
    the row counts. The same (seed, sf, parts) always writes the same bytes."""
    rng = np.random.default_rng(seed)
    spark_root = os.path.join(out_dir, "spark")
    oracle_root = os.path.join(out_dir, "oracle")
    for d in (spark_root, oracle_root):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    tables = tables if tables is not None else make_tables(sf)
    counts = {}
    for name in TABLES:
        tbl = tables[name]
        perm = rng.permutation(tbl.num_rows)
        tbl = tbl.take(pa.array(perm))
        counts[name] = tbl.num_rows
        pq.write_table(tbl, os.path.join(oracle_root, f"{name}.parquet"))
        tdir = os.path.join(spark_root, f"{name}.parquet")
        os.makedirs(tdir)
        bounds = [0] + cut_points(rng, tbl.num_rows, parts) + [tbl.num_rows]
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            pq.write_table(tbl.slice(lo, hi - lo),
                           os.path.join(tdir, f"part-{i:05d}.parquet"))
    return counts
