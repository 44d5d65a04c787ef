"""Seeded input generator for the benchmark.

Writes the star-schema tables the query registry reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one snappy parquet file each, with the column names and
types of the engine's test data. The same (seed, sizes) always gives
the same bytes of content.

Usage: python3 gen.py <out_dir> <seed> <scale>
  scale multiplies the base row counts; 1.0 gives the row counts of the
  engine's sf0.1 test data (150k orders, ~600k lineitem, 100k events,
  5000 documents, 2000 vectors), with its value distributions: the same
  31-word vocabulary, 10-100 words per document and 5% near-copies
  (an earlier text + " dup"), unit-norm Gaussian 64-d vectors.
  tpch_start (generate() only) moves the order/ship dates; the ingest
  workload puts them after the engine's first-run watermark default.
"""
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line data table agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = np.array(["en", "fr", "es", "zh", "de"])
LANG_P = [0.44, 0.13, 0.14, 0.15, 0.14]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
PTYPES = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
DAY_US = 86_400 * 1_000_000


def ts_us(base, offsets_us):
    """Naive (no time zone) microsecond timestamps, as the test data has."""
    return pd.to_datetime(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"))


def stratified(rng, n, span):
    """n values in [0, span), one per equal stratum, in random row order:
    every window of the range holds the same share of rows (give or take
    one), so per-round slice sizes do not vary with the seed."""
    return ((rng.permutation(n) + rng.random(n)) * span / n).astype(np.int64)


def write(out, name, df):
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(out, f"{name}.parquet"), compression="snappy")


def docs(rng, n, dup_share):
    """Random-word documents; a share of them copy an earlier one + ' dup'."""
    lens = rng.integers(10, 100, n)
    words = np.array(WORDS)
    text = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    for i in np.flatnonzero(rng.random(n) < dup_share):
        if i > 0:
            text[i] = text[int(rng.integers(0, i))] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def generate(out, seed, scale, tpch_start="1995-01-01"):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, int(15000 * scale))
    n_supp = max(10, int(1000 * scale))
    n_part = max(200, int(20000 * scale))
    n_ord = max(1500, int(150000 * scale))
    n_ev = max(1000, int(100000 * scale))

    write(out, "region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    write(out, "nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}))
    write(out, "customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}))
    write(out, "supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    pk = np.arange(n_part, dtype=np.int64)
    price = np.round(900.0 + (pk % 1000) / 10.0, 2)
    write(out, "part", pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": price}))

    odate = stratified(rng, n_ord, 2405) * DAY_US
    write(out, "orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "P", "O"]), n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": ts_us(tpch_start, odate),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}))

    # 1..7 lines per order, (l_orderkey, l_linenumber) unique
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(okey)
    part = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write(out, "lineitem", pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": part,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[part] * rng.uniform(0.9, 2.3, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n_li),
        "l_shipdate": ts_us(tpch_start, (1 + stratified(rng, n_li, 2499)) * DAY_US)}))

    # whole-second event times, id order = time order, plus planted exact
    # duplicate rows (same event_id and ts)
    secs = np.sort(stratified(rng, n_ev, 30 * 86_400))
    ev = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts_us("2024-01-01", secs * 1_000_000),
        "user_id": rng.integers(0, max(15, n_ev // 67), n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0.01, 490.02, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    dups = ev.iloc[np.flatnonzero(rng.random(n_ev) < 0.005)]
    ev = pd.concat([ev, dups]).sort_values(["ts", "event_id"], kind="stable")
    write(out, "events", ev.reset_index(drop=True))

    write(out, "documents", docs(rng, max(200, int(5000 * scale)), 0.05))
    write(out, "embeddings", embeddings(rng, max(200, int(2000 * scale))))


if __name__ == "__main__":
    out, seed, scale = sys.argv[1], int(sys.argv[2]), float(sys.argv[3])
    generate(out, seed, scale)
