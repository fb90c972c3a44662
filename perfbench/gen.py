"""Seeded generator for the contract tables (region ... embeddings).

Reproduces the shape of the harness star schema the contract queries
read (column names, parquet types, value domains, row counts per scale
factor) from a seed, so the benchmark never depends on pre-built data.
Timestamps are written TIMESTAMP_MICROS with isAdjustedToUTC=false,
the vintage the repo's loaders and the DuckDB oracle both read as naive
instants.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the "
         "value vector window").split()
DIM = 64
N_LABELS = 10


def _day(s):
    return np.datetime64(s, "D")


def _dates(rng, n, lo, hi):
    days = rng.integers(0, int((_day(hi) - _day(lo)).astype(int)) + 1, n)
    return (_day(lo) + days).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _names(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(sf, seed):
    """All ten tables as pyarrow Tables, sized by scale factor `sf`."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array(_names("Customer", n_cust), s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), f64),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), s)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array(_names("Supplier", n_supp), s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), f64)})
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            _pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(_pick(rng, PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2), f64)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0), f64),
        "o_orderdate": pa.array(_dates(rng, n_ord, "1995-01-01", "2001-08-01"), ts),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord), s)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 105000.0), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_line), s),
        "l_shipdate": pa.array(_dates(rng, n_line, "1995-01-02", "2001-11-04"), ts)})
    span_us = 30 * 86400 * 1_000_000
    evt_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, span_us, n_evt)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(evt_ts, ts),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), i64),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n_evt), s),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], s)})
    texts = [" ".join(_pick(rng, VOCAB, int(n)))
             for n in rng.integers(10, 101, n_doc)]
    # 5% near-duplicates: another document's text plus one token, the
    # pairs the dedup / near-dup queries exist to find
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(_pick(rng, LANGS, n_doc), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    labels = rng.integers(0, N_LABELS, n_emb)
    centers = rng.normal(0.0, 1.0, (N_LABELS, DIM))
    vecs = centers[labels] * 0.35 + rng.normal(0.0, 1.0, (n_emb, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return out


def write(sf, seed, out_dir):
    """Write every table to `<out_dir>/<name>.parquet`; return the row
    count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       coerce_timestamps="us", use_deprecated_int96_timestamps=False)
        rows[name] = table.num_rows
    return rows
