#!/usr/bin/env python3
"""Generate the benchmark's input tables: the TPC-H-like star schema plus
the `events`, `documents` and `embeddings` tables, with the schemas and
row counts that graft.sources.Tables reads (lineitem rows ~ 6,000,000 * sf).

The tables are a pure function of the scale factor and the fixed data seed
below; the workload seed never changes them, it only orders the operations
and picks endpoint parameters.

Usage: python3 perfbench/gendata.py <sf> <outdir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
EPOCH = np.datetime64("1995-01-01")
SPAN_DAYS = 2404  # 1995-01-01 .. 2001-08-01
VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window"])
SEGMENTS = np.array(["AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE",
                     "MACHINERY"])
PTYPES = np.array(["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL",
                   "PROMO"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
LANGS = np.array(["en", "zh", "fr", "es", "de"])
LANGP = np.array([0.41, 0.1475, 0.1475, 0.1475, 0.1475])


def days_to_us(days):
    return (EPOCH + (days * 86400).astype("timedelta64[s]")) \
        .astype("datetime64[us]")


def tables(sf):
    rng = np.random.default_rng(DATA_SEED)
    n_c, n_p, n_s = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_o, n_d = int(1_500_000 * sf), int(50_000 * sf)
    n_e = max(500, int(20_000 * sf))
    n_ev, n_u = int(1_000_000 * sf), int(15_000 * sf)

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": [f"REGION{i}" for i in range(5)]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_c), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_c)]})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_s), 2)})
    adjectives = ["large", "hot", "blue", "red", "small", "green", "dim",
                  "pale", "dark", "light"]
    nouns = ["ring", "bolt", "cap", "drum", "case", "pin", "tube", "box"]
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": [f"{adjectives[i % 10]} {nouns[(i // 10) % 8]}"
                   for i in range(n_p)],
        "p_brand": [f"Brand#{1 + i % 25}" for i in range(n_p)],
        "p_type": PTYPES[rng.integers(0, 6, n_p)],
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_p) * 0.1, 2)})

    odate = rng.uniform(0, SPAN_DAYS, n_o)
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_o)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_o), 2),
        "o_orderdate": days_to_us(np.floor(odate)),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_o)]})

    lines = rng.integers(1, 8, n_o)  # 1..7 lines per order, mean 4
    l_order = np.repeat(np.arange(n_o), lines)
    n_l = l_order.size
    ship = np.repeat(odate, lines) + rng.uniform(1, 95, n_l)
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_l), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_l), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_l), 2),
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_l)],
        "l_shipdate": days_to_us(np.minimum(ship, SPAN_DAYS + 95))})

    etypes = np.array(["view", "click", "purchase", "error"])
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": (np.datetime64("2024-01-01") +
               (np.sort(rng.uniform(0, 30 * 86400, n_ev)) * 1e6)
               .astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_u, n_ev), pa.int64()),
        "event_type": etypes[rng.integers(0, 4, n_ev)],
        "value": np.round(rng.uniform(0, 200, n_ev), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)]})

    # 10..100 words from a 31-word vocabulary; every 625th text repeats
    # the previous one, so exact-duplicate detection has work to do
    lens = rng.integers(10, 101, n_d)
    texts = []
    for i in range(n_d):
        if i % 625 == 624:
            texts.append(texts[i - 1])
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB),
                                                     lens[i])]))
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_d), pa.int64()),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_d, p=LANGP)],
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # dim-64 float32 vectors around 10 gaussian cluster centres
    centers = rng.normal(0, 0.08, (10, 64))
    labels = rng.integers(0, 10, n_e)
    vecs = (centers[labels] + rng.normal(0, 0.05, (n_e, 64))) \
        .astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_e), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def write_backlog(events, out, n_files=4):
    """The events as the streaming drains read them (`ts` as epoch
    microseconds), split over `n_files` files so a drain at two files per
    trigger runs two micro-batches."""
    os.makedirs(out, exist_ok=True)
    ts_us = events["ts"].cast(pa.int64())
    t = events.select(["event_id", "user_id", "event_type", "value"]) \
        .add_column(1, "ts_us", ts_us)
    step = -(-t.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(t.slice(i * step, step),
                       os.path.join(out, f"part-{i:05d}.parquet"))


def main():
    if len(sys.argv) != 3:
        sys.exit("usage: gendata.py <sf> <outdir>")
    sf, out = float(sys.argv[1]), sys.argv[2]
    os.makedirs(out, exist_ok=True)
    for name, table in tables(sf):
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        if name == "events":
            write_backlog(table, os.path.join(out, "stream_backlog"))


if __name__ == "__main__":
    main()
