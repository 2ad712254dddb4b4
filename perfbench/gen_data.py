"""Deterministic synthetic tables for the benchmark.

Writes the ten parquet tables the engine reads (`region nation customer
supplier part orders lineitem events documents embeddings`) with the
shapes and value distributions of the engine's star-schema testdata:
TPC-H-ish keys and prices, a month of click events with a tiny JSON
`props` payload, a 30-word-vocabulary text corpus in which 5% of the
documents are near-duplicates (an earlier document plus " dup") and
0.2% exact duplicates, and 64-d unit embeddings with ten labels.

The tables depend only on `sf` and `seed`; the same pair always gives
byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data spark window merge table column vector stream value "
         "small join filter big group hash customer sort order slow line "
         "part fast row agg key query scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.43, 0.14, 0.15, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "green", "steel", "brass", "plastic"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "spring", "valve", "pipe", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def documents(rng, n):
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in lens]
    # near-duplicates copy an earlier document and append a marker word;
    # exact duplicates copy one verbatim
    order = rng.permutation(np.arange(1, n))
    for i in order[: n // 20]:
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in order[n // 20: n // 20 + max(1, n // 500)]:
        texts[i] = texts[rng.integers(0, i)]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def generate(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1))})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2400, n_ord)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2500, n_line))})
    gaps = rng.exponential(1.0, n_ev)
    offs = (np.cumsum(gaps) / gaps.sum() * 30 * 86400e6 * 0.9999).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    _write(out_dir, "documents", documents(rng, n_docs))
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})
