"""Deterministic read-only corpus for the query workloads.

Writes one parquet file per table (region nation customer supplier part
orders lineitem events documents embeddings) with the schemas and value
domains the query registry is written against (see FIXTURES.md). Row
counts scale with `sf` like the fixture tiers: lineitem = 6M x sf,
documents/embeddings 5000/2000 from sf 0.1 up and 500/500 below.

The corpus seed is fixed (CORPUS_SEED): the expected query fingerprints
in expected.tsv are recorded against it, so the workload seed only
permutes query order and never changes the data.

Usage: python3 perfbench/gen_corpus.py <outDir> [sf]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

CORPUS_SEED = 20240101

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]

EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _us(day_str):
    return int((np.datetime64(day_str, "us") - EPOCH).astype(np.int64))


DAY_US = 86_400_000_000


def _write(out, name, cols):
    t = pa.table(cols)
    pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return t


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(CORPUS_SEED)
    ts = pa.timestamp("us")
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    written = []

    written.append(_write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)}))
    written.append(_write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array(np.arange(25) % 5, i32)}))

    n_cust = max(1, int(150_000 * sf))
    written.append(_write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)}))

    n_supp = max(1, int(10_000 * sf))
    written.append(_write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)}))

    n_part = max(1, int(200_000 * sf))
    written.append(_write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PTYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(900 + (np.arange(n_part) % 1000) / 10.0, f64)}))

    n_ord = max(1, int(1_500_000 * sf))
    first, last = _us("1995-01-01"), _us("2001-08-01")
    odate = first + rng.integers(0, (last - first) // DAY_US + 1, n_ord) * DAY_US
    written.append(_write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_ord), s),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord), f64),
        "o_orderdate": pa.array(odate, ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)}))

    n_li = max(1, int(6_000_000 * sf))
    lok = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    written.append(_write(out, "lineitem", {
        "l_orderkey": pa.array(lok, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 1000, n_li), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_li), s),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_li), s),
        "l_shipdate": pa.array(odate[lok] + rng.integers(1, 96, n_li) * DAY_US, ts)}))

    n_ev = max(1, int(1_000_000 * sf))
    start, span = _us("2024-01-01"), 30 * DAY_US - 1
    written.append(_write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.sort(start + rng.integers(0, span, n_ev)), ts),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
        "value": pa.array(np.round(rng.exponential(60.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)}))

    n_doc = 5000 if sf >= 0.1 else 500
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))) for _ in range(n_doc)]
    # near duplicates as in the fixture: 5 % of the documents are another
    # document's text with " dup" appended (chains give "dup dup"; two
    # copies of one source give the few exact duplicates)
    for i in np.sort(rng.choice(n_doc, n_doc // 20, replace=False)):
        j = int(rng.integers(0, n_doc - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    written.append(_write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)}))

    n_emb = 2000 if sf >= 0.1 else 500
    x = rng.standard_normal((n_emb, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    written.append(_write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)}))
    with open(os.path.join(out, "csv_bytes.txt"), "w") as f:
        f.write(f"{csv_bytes(written)}\n")


def csv_bytes(tables):
    """Bytes the corpus takes as header + comma-separated text: the
    denominator of the query workloads' lake_bytes_per_csv_byte."""
    total = 0
    for t in tables:
        flat = [c for c in t.column_names if not pa.types.is_list(t.schema.field(c).type)]
        buf = pa.BufferOutputStream()
        pacsv.write_csv(t.select(flat), buf)
        total += buf.tell()
        for c in set(t.column_names) - set(flat):
            total += len(c) + 1 + sum(len(repr(v)) + 3 for v in t.column(c).to_pylist())
    return total


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)
