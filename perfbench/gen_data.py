"""Deterministic sf0.1-shaped tables for the benchmark.

Writes the ten tables the engine's entries read (TPC-H-shaped star schema,
`events`, `documents`, `embeddings`), one parquet file each, with the same
column names and parquet types as the engine's fixtures. Every value comes
from one fixed numpy seed, so the tables -- and the expected result
fingerprints kept in `expected.json` -- are the same on every machine. The
benchmark's `--seed` never reaches this file: it only orders and slices
what is written here.

Documents are made so that the ingest workload has a checkable answer:
odd-numbered documents copy spans (and, for a few, the whole text) only
from even-numbered ones, and the even ones form the standing gram index.

Usage: python3 gen_data.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
N_CUSTOMER, N_SUPPLIER, N_PART = 15_000, 1_000, 20_000
N_ORDERS, N_LINEITEM = 150_000, 600_000
N_EVENTS, N_DOCS, N_VECS, DIM = 100_000, 5_000, 2_000, 64
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()


def _write(out, name, cols):
    tmp = os.path.join(out, f".{name}.parquet.tmp")
    pq.write_table(pa.table(cols), tmp, compression="snappy")
    os.replace(tmp, os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng, choices, n, p=None):
    return pa.array(np.asarray(choices, dtype=object)[
        rng.choice(len(choices), n, p=p)], pa.string())


def tpch(rng, out):
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], N_CUSTOMER)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    colors = ["blue", "red", "green", "hot", "cold", "large", "small", "dark"]
    nouns = ["ring", "bolt", "gear", "plate", "rod", "nut", "pipe", "screw"]
    names = [f"{c} {n}" for c in colors for n in nouns]
    keys = np.arange(N_PART)
    _write(out, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": _pick(rng, names, N_PART),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", N_ORDERS),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], N_ORDERS)})
    n = N_LINEITEM
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n)})


def events(rng, out):
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, N_EVENTS))
    _write(out, "events", {
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, N_EVENTS), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                  "view"], N_EVENTS),
        "value": np.round(rng.exponential(60.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})


def _grams(words, n=8):
    return {tuple(words[k:k + n]) for k in range(len(words) - n + 1)}


def documents(rng, out):
    words = [list(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)])
             for k in rng.integers(10, 101, N_DOCS)]
    evens = np.arange(0, N_DOCS, 2)
    odds = np.arange(1, N_DOCS, 2)
    # a few whole-text copies and many span copies, always even -> odd
    targets = rng.permutation(odds)
    for d in targets[:8]:
        words[d] = list(words[rng.choice(evens)])
    for d in targets[8:400]:
        src = words[rng.choice(evens)]
        k = int(rng.integers(10, 21))
        k = min(k, len(src))
        s = int(rng.integers(0, len(src) - k + 1))
        at = int(rng.integers(0, len(words[d]) + 1))
        words[d] = words[d][:at] + src[s:s + k] + words[d][at:]
    # odd documents may share word 8-grams only through the even ones: a
    # chance overlap between two odd documents is redrawn, so which of
    # them reaches the index first cannot change the ingest result
    even_grams = {g for d in evens for g in _grams(words[d])}
    seen = set()
    for d in odds:
        while True:
            own = _grams(words[d]) - even_grams
            if not own & seen:
                break
            words[d] = list(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), len(words[d]))])
        seen |= own
    text = [" ".join(w) for w in words]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": text,
        "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], N_DOCS,
                      p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in text], pa.int64())})


def embeddings(rng, out):
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0.0, 0.12, (10, DIM))
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (N_VECS, DIM))
            ).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def main(out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(SEED)
    tpch(rng, out)
    events(rng, out)
    documents(rng, out)
    embeddings(rng, out)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: gen_data.py <out_dir>")
    main(sys.argv[1])
