"""Seeded synthetic tables for the benchmark.

Writes the ten parquet tables the graft queries read (TPC-H-like star
schema, an `events` stream, a `documents` corpus and an `embeddings`
table) with the same schemas, value domains and row counts per scale
factor as the repository's test fixtures (see FIXTURES.md):

    region 5, nation 25, customer 150k*sf, supplier 10k*sf, part 200k*sf,
    orders 1.5M*sf, lineitem 6M*sf, events 1M*sf,
    documents max(500, 50k*sf), embeddings max(500, 20k*sf)

Every column is drawn from a numpy Generator seeded by `seed`, so the
same (sf, seed) always yields byte-identical values.

    python3 perfbench/datagen.py <out_dir> <sf> [seed]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_DAY_1995 = np.datetime64("1995-01-01", "D")
VOCAB = ("a the data query table row column key value join merge sort hash "
         "scan filter group agg window order part customer line batch "
         "stream spark vector small big fast slow").split()
P_ADJ = ["small", "new", "blue", "old", "red", "large", "hot", "cold"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]


def _money(rng, lo, hi, n):
    """Exact 2-dp amounts in [lo, hi], as doubles."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _days(rng, first, last, n):
    """Midnight timestamps (µs) uniform over [first, last]."""
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return d.astype("datetime64[us]")


def _write(out_dir, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def tables(sf, seed):
    """Yield (name, {column: array}) for every table at scale factor sf."""
    rng = np.random.default_rng([seed, int(round(sf * 1_000_000))])
    n_cust, n_supp, n_part = (int(round(k * sf)) for k in (150_000, 10_000, 200_000))
    n_ord, n_line, n_ev = (int(round(k * sf)) for k in (1_500_000, 6_000_000, 1_000_000))
    n_doc, n_emb = max(500, int(round(50_000 * sf))), max(500, int(round(20_000 * sf)))
    n_users = max(1, int(round(15_000 * sf)))
    i32, i64 = pa.int32(), pa.int64()

    yield "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    yield "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}
    yield "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)}
    yield "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -1000, 10000, n_supp)}
    keys = np.arange(n_part)
    yield "part", {
        "p_partkey": pa.array(keys, i64),
        "p_name": (_pick(rng, P_ADJ, n_part) + " " + _pick(rng, P_NOUN, n_part)),
        "p_brand": np.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], dtype=object),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 2)}
    yield "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)}
    yield "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)}
    # events: exponential inter-arrival gaps scaled to span 30 days, µs ticks
    gaps = rng.exponential(1.0, n_ev)
    span_us = 30 * 86_400_000_000 - 60_000_000
    ts_us = (np.cumsum(gaps) / gaps.sum() * span_us).astype(np.int64)
    ramp = np.arange(n_ev)
    ts_us = np.maximum.accumulate(ts_us - ramp) + ramp  # strictly increasing
    yield "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], dtype=object)}
    lens = rng.integers(10, 101, n_doc)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_doc)]
    # a handful of exact duplicates (~0.16%), as in the fixture corpus
    for i in rng.choice(np.arange(1, n_doc), int(round(n_doc * 0.0016)), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    yield "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)}
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)}


def generate(out_dir, sf, seed):
    """Write every table into out_dir (created if missing)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables(sf, seed):
        _write(out_dir, name, cols)


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 42)
