"""Seeded input generator for the benchmark workloads.

The tables have the schemas and value domains of graft's driver test
data: a TPC-H-style star, and a `documents` corpus over a 30-word
vocabulary in which 5% of the documents are another document's text
with " dup" appended. Every table draws from its own
random stream derived from (seed, table name), so one seed always
gives byte-identical files and a different seed gives different
content with the same row counts, schemas and domains.

A table written as one file is `<dir>/<name>.parquet`; a sharded one
is a directory `<dir>/<name>.parquet/part-NNNNN.parquet`. Both read
the same through `spark.read.parquet` and DuckDB's `read_parquet`.
"""
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _rng(seed, table):
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def _days(rng, n, first, last):
    """Midnight timestamps uniform over [first, last] as datetime64[us]."""
    span = (np.datetime64(last) - np.datetime64(first)).astype(int)
    return (np.datetime64(first, "D") + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def region(rng, n):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})


def nation(rng, n):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def customer(rng, n):
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n)})


def supplier(rng, n):
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})


def part(rng, n):
    adj, noun = rng.integers(0, 8, n), rng.integers(0, 8, n)
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 2)})


def orders(rng, n, customers):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, customers, n), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, n, 1000, 500000),
        "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n)})


def lineitem(rng, n, orders_n, parts, suppliers):
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, orders_n, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, suppliers, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900, 105000),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04")})


def documents(rng, n):
    lengths = rng.integers(10, 100, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), lengths.sum())]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lengths)]
    # 5% near-duplicates: another document's text with " dup" appended
    dups = rng.choice(n, n // 20, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for d, src in zip(dups, rng.choice(originals, len(dups))):
        texts[d] = texts[src] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def build_table(name, rows, seed, sizes):
    """`sizes` holds every table's row count, for foreign-key domains."""
    rng = _rng(seed, name)
    if name == "orders":
        return orders(rng, rows, sizes["customer"])
    if name == "lineitem":
        return lineitem(rng, rows, sizes["orders"], sizes["part"], sizes["supplier"])
    return globals()[name](rng, rows)


def write_table(table, path, files, row_groups):
    """Writes `files` files of `row_groups` row groups each."""
    per_file = -(-table.num_rows // files)
    if files > 1:
        os.makedirs(path)
    for f in range(files):
        chunk = table.slice(f * per_file, per_file)
        target = path if files == 1 else os.path.join(path, f"part-{f:05d}.parquet")
        pq.write_table(chunk, target, row_group_size=max(1, -(-chunk.num_rows // row_groups)),
                       compression="snappy")


def generate(out_dir, seed, tables):
    """Writes each table of `tables` ({name: {rows, files, row_groups}})."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {name: spec["rows"] for name, spec in tables.items()}
    for name, spec in tables.items():
        write_table(build_table(name, spec["rows"], seed, sizes),
                    os.path.join(out_dir, f"{name}.parquet"), spec["files"], spec["row_groups"])
