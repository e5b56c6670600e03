"""Deterministic generator for the benchmark's input tables.

Writes the TPC-H-ish star schema the engine's queries read (region, nation,
customer, supplier, part, orders, lineitem, documents) as one parquet file
per table, one row group each, with the same column names and types as the
engine's test data. Row counts scale with the scale factor: sf0.1 has 15k
customers, 150k orders and 600k line items; sf0.001 has 150, 1.5k and 6k.

The tables depend only on the scale factor and GEN_SEED, never on the
benchmark's --seed: the per-query golden fingerprints are fixed, and the
workload seed drives only query order and the landed claim batches.

Usage: python3 perfbench/datagen.py <out_dir> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "small", "red", "green", "cold", "tiny"]
PART_NOUN = ["ring", "bolt", "gear", "nut", "pipe", "valve", "screw", "plate"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
WORDS = ("a agg batch big column data fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table value "
         "vector window").split()
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
EPOCH = np.datetime64("1970-01-01", "D")


def days(lo, hi, n, rng):
    """n uniform dates in [lo, hi] as tz-naive microsecond timestamps."""
    a = (np.datetime64(lo, "D") - EPOCH).astype(np.int64)
    b = (np.datetime64(hi, "D") - EPOCH).astype(np.int64)
    d = rng.integers(a, b + 1, n)
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def cents(lo, hi, n, rng):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def pick(values, n, rng):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def names(prefix, n):
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)])


def tables(sf):
    rng = np.random.default_rng(GEN_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": cents(-999.99, 9999.99, n_cust, rng),
        "c_mktsegment": pick(SEGMENTS, n_cust, rng)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": cents(-999.99, 9999.99, n_supp, rng)})
    adj, noun = pick(PART_ADJ, n_part, rng), pick(PART_NOUN, n_part, rng)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj.to_pylist(), noun.to_pylist())]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pick(PART_TYPES, n_part, rng),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord, rng),
        "o_totalprice": cents(1000.0, 500_000.0, n_ord, rng),
        "o_orderdate": days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": pick(PRIORITIES, n_ord, rng)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": cents(900.0, 100_000.0, n_line, rng),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line, rng),
        "l_linestatus": pick(["F", "O"], n_line, rng),
        "l_shipdate": days("1995-01-02", "2001-11-04", n_line, rng)})
    lens = rng.integers(8, 90, n_doc)
    words = np.asarray(WORDS, dtype=object)
    text = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": text,
        "lang": pick(LANGS, n_doc, rng),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64())})
    return out


def main():
    out_dir, sf = sys.argv[1], float(sys.argv[2])
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(t, tmp, row_group_size=max(1, t.num_rows))
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main()
