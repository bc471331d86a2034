#!/usr/bin/env python3
"""Seeded generator for the benchmark's parquet fixture.

Writes the ten tables graft's queries read (`region` ... `embeddings`),
with the same schemas and value domains as the repository's sf fixtures,
one parquet file per table. Row counts scale with `sf` exactly as the
fixtures do (lineitem = 6 M x sf). Every value comes from
`numpy.random.default_rng([seed, table index])`, so the same seed gives
the same bytes.

Usage: python3 perfbench/fixture.py <out_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "zh", "de", "fr", "es"]
WORDS = ("a the join value fast column sort scan small customer merge hash "
         "line spark part batch slow group row filter query key big window "
         "table stream order data vector agg").split()
DAY_US = 86_400_000_000


def pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def days(rng, start, end, n):
    """Midnight timestamps drawn uniformly from [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * DAY_US, pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def sizes(sf):
    return {"customer": int(150_000 * sf), "supplier": int(10_000 * sf),
            "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
            "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
            "documents": int(50_000 * sf), "embeddings": int(20_000 * sf),
            "users": max(1, int(15_000 * sf))}


def table(name, sf, rng):
    n = sizes(sf)
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string())})
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if name == "customer":
        m = n["customer"]
        return pa.table({
            "c_custkey": pa.array(np.arange(m), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(m)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, m), pa.int32()),
            "c_acctbal": money(rng, -999.99, 9999.99, m),
            "c_mktsegment": pick(rng, SEGMENTS, m)})
    if name == "supplier":
        m = n["supplier"]
        return pa.table({
            "s_suppkey": pa.array(np.arange(m), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(m)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, m), pa.int32()),
            "s_acctbal": money(rng, -999.99, 9999.99, m)})
    if name == "part":
        m = n["part"]
        pk = np.arange(m)
        names = np.char.add(np.char.add(np.asarray(ADJ)[rng.integers(0, 8, m)], " "),
                            np.asarray(NOUN)[rng.integers(0, 8, m)])
        return pa.table({
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": pa.array(names.astype(object), pa.string()),
            "p_brand": pick(rng, [f"Brand#{i}" for i in range(1, 26)], m),
            "p_type": pick(rng, TYPES, m),
            "p_size": pa.array(rng.integers(1, 51, m), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    if name == "orders":
        m = n["orders"]
        return pa.table({
            "o_orderkey": pa.array(np.arange(m), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], m), pa.int64()),
            "o_orderstatus": pick(rng, ["F", "O", "P"], m),
            "o_totalprice": money(rng, 1000.0, 500000.0, m),
            "o_orderdate": days(rng, "1995-01-01", "2001-08-01", m),
            "o_orderpriority": pick(rng, PRIORITIES, m)})
    if name == "lineitem":
        m = n["lineitem"]
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": money(rng, 900.0, 105000.0, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": pick(rng, ["A", "N", "R"], m),
            "l_linestatus": pick(rng, ["F", "O"], m),
            "l_shipdate": days(rng, "1995-01-02", "2001-11-04", m)})
    if name == "events":
        m = n["events"]
        t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
        ts = np.sort(rng.integers(t0, t0 + 30 * DAY_US, m))
        return pa.table({
            "event_id": pa.array(np.arange(m), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n["users"], m), pa.int64()),
            "event_type": pick(rng, EVENT_TYPES, m),
            "value": np.round(rng.exponential(50.0, m), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, m)],
                              pa.string())})
    if name == "documents":
        # word soup; one document in twenty is an earlier one plus " dup"
        m = n["documents"]
        w = np.asarray(WORDS)
        texts = [" ".join(w[rng.integers(0, len(WORDS), rng.integers(10, 101))])
                 for _ in range(m)]
        for i in range(1, m):
            if rng.random() < 0.05:
                texts[i] = texts[rng.integers(0, i)] + " dup"
        return pa.table({
            "doc_id": pa.array(np.arange(m), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pick(rng, LANGS, m),
            "source": pa.array([f"src{i % 20}" for i in range(m)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    if name == "embeddings":
        # unit vectors, dimension 64
        m = n["embeddings"]
        v = rng.standard_normal((m, 64)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return pa.table({
            "vec_id": pa.array(np.arange(m), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, m), pa.int32())})
    raise ValueError(name)


def write(out_dir, sf, seed, tables=TABLES):
    """Write `tables`; each table draws from its own stream of the seed,
    so a subset holds the same rows as the full set."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        rng = np.random.default_rng([seed, TABLES.index(name)])
        pq.write_table(table(name, sf, rng), os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
