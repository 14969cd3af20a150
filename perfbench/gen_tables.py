#!/usr/bin/env python3
"""Render the toolkit_mix input tables for one seed.

Usage: gen_tables.py <seed> <outDir>

Writes the ten parquet tables the query registry and its DuckDB oracle
read (documents, embeddings, events and lineitem carry the mix; the
other six are small so the oracle's views resolve), plus manifest.json.
The shapes follow the sf0.01 test tables: 500 documents over a
32-word vocabulary with near-duplicates, 500 random unit-norm 64-d vectors
with 10 labels, 10k events over 30 days, 60k lineitem rows. The
same seed always gives byte-identical files.
"""
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter dup key agg scan slow table part a merge "
         "window order column join vector").split()
MIX_TABLES = ["documents", "embeddings", "events", "lineitem"]


def documents(rng, n=500):
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # Near-duplicate of an earlier document, shaped like the test
            # tables' own: a copy with "dup" appended once or twice.
            words = texts[int(rng.integers(0, i))].split() + ["dup"] * int(rng.integers(1, 3))
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    langs = rng.choice(["en", "es", "zh", "de", "fr"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n=500, dim=64, labels=10):
    label = rng.integers(0, labels, n)
    v = rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def events(rng, n=10000, users=150):
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * 86400 * 10**6, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(rng.choice(["view", "click", "signup", "purchase", "error"], n).tolist(),
                               pa.string()),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def lineitem(rng, n=60000):
    per_order = rng.integers(1, 8, n)  # more than enough orders
    orderkey = np.repeat(np.arange(n), per_order)[:n]
    linenumber = np.concatenate([np.arange(1, k + 1) for k in per_order])[:n]
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 2100.0, n), 2)
    day0 = np.datetime64("1995-01-02", "D").astype(np.int64)
    days = day0 + rng.integers(0, 2498, n)
    return pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * price, 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n).tolist(), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n).tolist(), pa.string()),
        "l_shipdate": pa.array(days * 86400 * 1000, pa.timestamp("ms")),
    })


def small_tables(rng):
    names = ["ASIA", "EUROPE", "AFRICA", "AMERICA", "MIDDLE EAST"]
    segments = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
    return {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(names, pa.string())}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": pa.array([f"NATION{i}" for i in range(25)], pa.string()),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({"c_custkey": pa.array(range(150), pa.int64()),
                              "c_name": pa.array([f"Customer#{i}" for i in range(150)], pa.string()),
                              "c_nationkey": pa.array(rng.integers(0, 25, 150), pa.int32()),
                              "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, 150), 2), pa.float64()),
                              "c_mktsegment": pa.array(rng.choice(segments, 150).tolist(), pa.string())}),
        "supplier": pa.table({"s_suppkey": pa.array(range(10), pa.int64()),
                              "s_name": pa.array([f"Supplier#{i}" for i in range(10)], pa.string()),
                              "s_nationkey": pa.array(rng.integers(0, 25, 10), pa.int32()),
                              "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, 10), 2), pa.float64())}),
        "part": pa.table({"p_partkey": pa.array(range(200), pa.int64()),
                          "p_name": pa.array([f"part {i}" for i in range(200)], pa.string()),
                          "p_brand": pa.array([f"Brand#{i % 25}" for i in range(200)], pa.string()),
                          "p_type": pa.array([f"TYPE {i % 15}" for i in range(200)], pa.string()),
                          "p_size": pa.array(rng.integers(1, 51, 200), pa.int32()),
                          "p_retailprice": pa.array(np.round(rng.uniform(900, 2100, 200), 2), pa.float64())}),
        "orders": pa.table({"o_orderkey": pa.array(range(1500), pa.int64()),
                            "o_custkey": pa.array(rng.integers(0, 150, 1500), pa.int64()),
                            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], 1500).tolist(), pa.string()),
                            "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, 1500), 2), pa.float64()),
                            "o_orderdate": pa.array((np.datetime64("1995-01-01", "D").astype(np.int64)
                                                     + rng.integers(0, 2400, 1500)) * 86400 * 1000,
                                                    pa.timestamp("ms")),
                            "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"], 1500).tolist(),
                                                        pa.string())}),
    }


def render(seed, out):
    rng = np.random.default_rng([seed, 0x70014B17])
    tables = {"documents": documents(rng), "embeddings": embeddings(rng),
              "events": events(rng), "lineitem": lineitem(rng)}
    tables.update(small_tables(rng))
    tmp = os.path.join(os.path.dirname(out), "." + os.path.basename(out) + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, t in tables.items():
        # One row group per table, like the test tables.
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 20)
    manifest = {
        "workload": "toolkit_mix", "seed": seed,
        "data_lines": sum(tables[t].num_rows for t in MIX_TABLES),
        "bytes": sum(os.path.getsize(os.path.join(tmp, f"{t}.parquet")) for t in MIX_TABLES),
        "tables": {name: t.num_rows for name, t in tables.items()},
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    render(int(sys.argv[1]), sys.argv[2])
