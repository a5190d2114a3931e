"""Seeded generators for the benchmark's input tables.

`sf_tables` writes the ten star-schema tables the SparkEntry gates read
(`<dir>/<table>.parquet`, one row group each, the column types the gates
expect).  `search_inputs` writes the documents the search index is built
from plus the reads probed against it.  The same seed always gives the
same bytes.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SOURCES = 20


def _write(path, cols):
    pq.write_table(pa.table(cols), path, row_group_size=1 << 30)


def _days(rng, n, lo, hi):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return pa.array((lo + d).astype("datetime64[us]"), pa.timestamp("us"))


def _cents(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n):
    """`n` documents of 10 to 99 words; 5% are near-duplicates of an
    earlier document (its text with one or two " dup" suffixes), so the
    dedup and classify gates have true positives."""
    words = rng.integers(0, len(VOCAB), (n, 99))
    lens = rng.integers(10, 100, n)
    texts = [" ".join(VOCAB[w] for w in words[i, :lens[i]]) for i in range(n)]
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup" * int(rng.integers(1, 3))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % SOURCES}" for i in ids], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    }


def sf_tables(out, seed, sf):
    """The TPC-H-like star schema plus events, documents and embeddings at
    scale factor `sf` (lineitem has 6e6 * sf rows)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150000 * sf), max(10, int(10000 * sf))
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_li, n_ev = int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32 = lambda a: pa.array(np.asarray(a, np.int32))
    i64 = lambda a: pa.array(np.asarray(a, np.int64))
    _write(f"{out}/region.parquet", {
        "r_regionkey": i32(np.arange(5)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"])})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": i32(np.arange(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32(np.arange(25) % 5)})
    _write(f"{out}/customer.parquet", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": pa.array(_cents(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
             "FURNITURE"], n_cust))})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": pa.array(_cents(rng, n_supp, -999.99, 9999.99))})
    adj = ["small", "blue", "cold", "old", "new", "hot", "red", "big"]
    noun = ["widget", "rod", "ring", "anvil", "plate", "bolt", "gear",
            "gizmo"]
    pk = np.arange(n_part)
    _write(f"{out}/part.parquet", {
        "p_partkey": i64(pk),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(["ECONOMY", "LARGE", "STANDARD",
                                       "MEDIUM", "SMALL", "PROMO"], n_part)),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1))})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_cents(rng, n_ord, 1000, 500000)),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord))})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, n_li, 900, 105000)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps)
    _write(f"{out}/events.parquet", {
        "event_id": i64(np.arange(n_ev)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": i64(rng.integers(0, max(15, int(15000 * sf)), n_ev)),
        "event_type": pa.array(rng.choice(
            ["click", "purchase", "error", "signup", "view"], n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)])})
    _write(f"{out}/documents.parquet", documents(rng, n_doc))
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = 0.15 * centers[labels] + rng.normal(0, 1, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": i64(np.arange(n_emb)),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": i32(labels)})


def mutate(rng, text, rate):
    """Substitute each character with probability `rate` by a different
    lowercase letter (Taxor's read error model: substitutions only)."""
    chars = np.frombuffer(text.encode(), np.uint8).copy()
    hit = rng.random(len(chars)) < rate
    shift = rng.integers(1, 26, len(chars))
    letters = (chars[hit] - 97 + shift[hit]) % 26 + 97
    # a space becomes a letter too; keep it a substitution
    chars[hit] = letters
    return chars.tobytes().decode()


def search_inputs(out, seed, n_docs, n_reads, read_len,
                  rates=(0.0, 0.04, 0.15)):
    """Documents to index (the gates' document generator and vocabulary)
    plus `n_reads` reads: each read is a random `read_len`-character
    substring of one document, mutated at one of `rates`.  A read's true
    bin is its document's bin (doc_id-based)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    docs = documents(rng, n_docs)
    texts = docs["text"].to_pylist()
    _write(f"{out}/documents.parquet", docs)
    long_docs = np.array([i for i, t in enumerate(texts)
                          if len(t) >= read_len + 1])
    src = rng.choice(long_docs, n_reads)
    reads, truth, rate_col = [], [], []
    for q, d in enumerate(src):
        start = int(rng.integers(0, len(texts[d]) - read_len + 1))
        rate = rates[q % len(rates)]
        reads.append(mutate(rng, texts[d][start:start + read_len], rate))
        truth.append(int(d))
        rate_col.append(rate)
    _write(f"{out}/reads.parquet", {
        "query_id": pa.array([f"r{q:06d}" for q in range(n_reads)]),
        "text": pa.array(reads, pa.string()),
        "src_doc": pa.array(np.array(truth, np.int64)),
        "error_rate": pa.array(np.array(rate_col, np.float64))})


if __name__ == "__main__":
    import sys
    sf_tables(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
    print(json.dumps(sorted(os.listdir(sys.argv[1]))))
