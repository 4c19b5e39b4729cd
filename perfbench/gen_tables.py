"""Seeded generator for the star-schema tables the registered queries read.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one single-row-group snappy parquet file each,
with the column names, types and value domains the queries and their DuckDB
oracles expect. Row counts are linear in the scale factor (lineitem has
6,000,000 x sf rows); documents and embeddings keep a floor of 500 rows so
the text and vector queries have material at small scale.

Usage: python3 perfbench/gen_tables.py <sf> <out_dir> [--seed N]
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# A small engine-themed vocabulary: the tokenizer and dedup queries train on
# word frequencies, so documents reuse a few dozen words heavily.
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
DAY_US = 86_400_000_000


def generate(sf, out, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                       compression="snappy")

    def pick(values, n):
        return pa.array(np.array(values)[rng.integers(0, len(values), n)])

    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_li = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], n_cust)})
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2)})

    adjs = ["large", "hot", "blue", "red", "small", "green", "dim", "shiny"]
    nouns = ["ring", "bolt", "case", "disk", "wheel", "cap", "tube", "widget"]
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pick(["ECONOMY", "MEDIUM", "SMALL", "PROMO", "LARGE",
                        "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})

    o_base = np.datetime64("1995-01-01", "us").astype(np.int64)
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(o_base + rng.integers(0, 2404, n_ord) * DAY_US,
                                pa.timestamp("us")),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["O", "F"], n_li),
        "l_shipdate": pa.array(o_base + rng.integers(0, 2494, n_li) * DAY_US,
                               pa.timestamp("us"))})

    ev_base = np.datetime64("2024-01-01", "us").astype(np.int64)
    gaps = rng.exponential(30 * DAY_US / n_ev, n_ev).astype(np.int64)
    write("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ev_base + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev),
                            pa.int64()),
        "event_type": pick(["view", "click", "purchase", "signup", "error"],
                           n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)})
                  for k in rng.integers(0, 100, n_ev)]})

    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.02:  # exact duplicates for dedup
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = np.array(VOCAB)[rng.integers(0, len(VOCAB),
                                                 int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    write("documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": pick(["en", "fr", "es", "de", "zh"], n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    emb = rng.normal(0.0, 0.125, (n_emb, 64)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf", type=float)
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    generate(a.sf, a.out, a.seed)


if __name__ == "__main__":
    main()
