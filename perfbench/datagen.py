"""Input tables for the benchmark.

Writes the ten tables the engine's queries read (`<name>.parquet`, one file
each): a TPC-H-like star schema plus `events`, `documents` and
`embeddings`. The draws replay, in order, the generator of the project's
read-only reference data (numpy `default_rng(42)`), so at seed 42 the tables
hold the same values as the reference at the same scale factor, and
`REFERENCE` records the row count and checksum of every reference table at
sf0.01 for `check` to compare against.

Usage: python3 datagen.py <out_dir> <sf> <seed>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import bench_lib

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
ORDER_STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUS = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
VOCAB = ("the a spark query table join group filter window data order customer "
         "part line fast slow big small hash sort merge scan agg stream batch "
         "vector key value row column").split()
EPOCH = dt.datetime(1970, 1, 1)
EVENTS_START = np.datetime64("2024-01-01", "ns")

# (rows, bench_lib.checksum) of each reference table at sf0.01, seed 42
REFERENCE = {
    "region": [5, "f115cd7629d1fd4c"],
    "nation": [25, "e64cd5d7596398d2"],
    "customer": [1500, "c25b34b8854c4117"],
    "supplier": [100, "e91b2bff98f5a3e4"],
    "part": [2000, "5dd84de56e4a8bda"],
    "orders": [15000, "7931a834a2861c78"],
    "lineitem": [60000, "f49d878a6b9a3c1d"],
    "events": [10000, "d0b872b506a30913"],
    "documents": [500, "5a2451a85b4051b5"],
    "embeddings": [500, "8820b2ce14250c53"],
}


def _days(rng, n, lo, hi):
    """Midnight timestamps drawn uniformly from the day range [lo, hi]."""
    lo_d, hi_d = ((dt.datetime(*d) - EPOCH).days for d in (lo, hi))
    days = rng.integers(lo_d, hi_d + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(words, idx):
    return [words[i] for i in idx]


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = 5_000 if sf >= 0.1 else 500
    n_vecs = 2_000 if sf >= 0.1 else 500
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    # every column below is one draw, in the reference generator's order
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_cust))})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(PART_TYPES, rng.integers(0, 6, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(ORDER_STATUS, rng.integers(0, 3, n_ord)),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_ord))})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": _money(rng, n_li, 0.0, 0.1),
        "l_tax": _money(rng, n_li, 0.0, 0.08),
        "l_returnflag": _pick(RETURN_FLAGS, rng.integers(0, 3, n_li)),
        "l_linestatus": _pick(LINE_STATUS, rng.integers(0, 2, n_li)),
        "l_shipdate": _days(rng, n_li, (1995, 1, 2), (2001, 11, 4))})
    # events: sorted uniform seconds over 30 days, cut to whole µs
    secs = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    ts = EVENTS_START + (secs * 1e9).astype("timedelta64[ns]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: 10-99 vocabulary words each; then one in twenty becomes a
    # near-duplicate of another (its text plus " dup"), in draw order
    texts = []
    for _ in range(n_docs):
        k = rng.integers(10, 100)
        texts.append(" ".join(_pick(VOCAB, rng.integers(0, len(VOCAB), k))))
    n_dup = n_docs // 20
    dups = rng.choice(n_docs, n_dup, replace=False)
    for i, j in zip(dups, rng.integers(0, n_docs, n_dup)):
        texts[i] = texts[j] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": _pick(LANGS, rng.integers(0, len(LANGS), n_docs)),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
    return out


def digest(path):
    """(rows, bench_lib.checksum) of one parquet table."""
    t = pq.read_table(path)
    return bench_lib.checksum(t.column_names, zip(*(c.to_pylist() for c in t.columns)))


def write(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def check(out_dir):
    """Names of the tables in `out_dir` whose rows or checksum differ from
    the reference's."""
    return [name for name, want in REFERENCE.items()
            if list(digest(os.path.join(out_dir, f"{name}.parquet"))) != want]


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
