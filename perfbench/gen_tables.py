#!/usr/bin/env python3
"""Generate the star-schema tables the read-mix workload queries.

Usage: python3 perfbench/gen_tables.py <out_dir> [scale_factor]

Writes one parquet file per table (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) with the column
names and types the program's table loader expects, at the row counts of
the scale factor (default 0.1, the one the benchmark uses). The data
seed is fixed (DATA_SEED), so every checkout builds byte-identical tables
and the headline results pinned in pins.json stay valid; the benchmark's
--seed varies what is asked of the tables, not the tables themselves.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def ts_us(start, seconds):
    """Timestamps (µs, no zone) `seconds` after the ISO date `start`."""
    base = np.datetime64(start, "us")
    return (base + (np.asarray(seconds) * 1_000_000).astype("timedelta64[us]"))


def cents(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def main() -> int:
    if len(sys.argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    out = sys.argv[1]
    sf = float(sys.argv[2]) if len(sys.argv) == 3 else 0.1
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_events, n_docs, n_vecs = int(1000000 * sf), int(50000 * sf), int(20000 * sf)

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": cents(rng, -999.99, 9999.99, n_supp)})

    adj = np.array(["large", "hot", "blue", "small", "red", "green"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                              noun[rng.integers(0, 5, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})

    day = 86400
    span_days = 2404  # 1995-01-01 .. 2001-08-01
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts_us("1995-01-01", rng.integers(0, span_days, n_ord) * day),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})

    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": cents(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": ts_us("1995-01-02", rng.integers(0, 2498, n_line) * day)})

    gaps = rng.integers(1, 52, n_events)
    micros = np.cumsum(gaps * 1_000_000 + rng.integers(0, 1_000_000, n_events))
    write(out, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, 1500, n_events), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_events)],
        "value": cents(rng, 0.0, 560.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    words = np.array(WORDS)
    n_words = rng.integers(8, 100, n_docs)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in n_words]
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.8 * rng.normal(size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return 0


if __name__ == "__main__":
    sys.exit(main())
