"""Seeded generator for the analytics tables.

Writes one parquet file per table with the same schema and value shapes
as the project's TPC-H-ish test tables (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings).
`scale` 1.0 gives the sf0.1 row counts (600,000 lineitem rows); the same
seed and scale always give byte-identical values.

Usage: python3 gen_tables.py <out_dir> <seed> <scale>
"""
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("query row stream the batch sort value hash filter big data dup spark "
         "line small fast group customer part column order scan a slow agg key "
         "window table merge vector join").split()


def money(rng, lo, hi, n):
    # exact 2-decimal values, as the queries' DECIMAL(12,2) casts assume
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def write(out, name, df, schema=None):
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"), compression="snappy")


def generate(out, seed, scale):
    rng = np.random.default_rng(seed)
    n_cust = max(100, int(15000 * scale))
    n_supp = max(20, int(1000 * scale))
    n_part = max(100, int(20000 * scale))
    n_ord = max(500, int(150000 * scale))
    n_line = max(2000, int(600000 * scale))
    n_evt = max(1000, int(100000 * scale))
    n_doc = max(200, int(5000 * scale))
    n_vec = max(200, int(2000 * scale))

    write(out, "region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    write(out, "nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}))
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    write(out, "customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}))
    write(out, "supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)}))
    adj = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    types = np.array(["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"])
    pk = np.arange(n_part)
    write(out, "part", pd.DataFrame({
        "p_partkey": pk.astype(np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}))
    day = np.timedelta64(1, "D")
    d0 = np.datetime64("1995-01-01T00:00:00", "us")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write(out, "orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": d0 + rng.integers(0, 2404, n_ord) * day,
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]}))
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write(out, "lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": d0 + rng.integers(1, 2500, n_line) * day}))
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    micros = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_evt))
    write(out, "events", pd.DataFrame({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": t0 + micros.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(50, int(1500 * scale)), n_evt).astype(np.int64),
        "event_type": np.array(["signup", "click", "error", "view", "purchase"])[
            rng.integers(0, 5, n_evt)],
        "value": money(rng, 0.0, 560.0, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}))
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n_doc)]
    for i in rng.choice(n_doc, size=max(1, n_doc // 600), replace=False):
        texts[i] = texts[(i + 1) % n_doc]  # a few exact duplicate texts
    write(out, "documents", pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["es", "zh", "de", "fr", "en"])[rng.integers(0, 5, n_doc)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(0, 1.2, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])
    write(out, "embeddings", pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32)}), schema)


if __name__ == "__main__":
    out_dir, seed, scale = sys.argv[1], int(sys.argv[2]), float(sys.argv[3])
    os.makedirs(out_dir, exist_ok=True)
    generate(out_dir, seed, scale)
