"""Seeded fixture generator: the sf0.1-shaped tables the workloads read.

Same tables, columns, physical types and row counts as the sf0.1 fixture
(FIXTURES.md); values are drawn from a numpy generator seeded with the
benchmark's --seed, so one seed always gives the same bytes.

    python3 perfbench/gen.py OUT_DIR SEED
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"supplier": 1000, "customer": 15000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000,
        "embeddings": 2000}
USERS = 1500
WORDS = ("a agg batch big column data fast filter group hash key line merge "
         "order part query row scan slow small sort spark stream table value "
         "vector window join shuffle state log").split()


def _ts(base, seconds):
    """timestamp[us] array: `base` (numpy datetime64) plus float seconds."""
    us = np.datetime64(base, "us") + (np.asarray(seconds) * 1e6).astype("int64")
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = ROWS["customer"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": segs[rng.integers(0, 5, n)]})
    n = ROWS["part"]
    adj = np.array(["large", "small", "hot", "cold", "shiny", "matte"])
    noun = np.array(["ring", "bolt", "gear", "pipe", "valve", "spring"])
    types = np.array(["LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO", "MEDIUM"])
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n)], " "),
                              noun[rng.integers(0, 6, n)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": types[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10.0, 2)})
    n = ROWS["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    days = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 900, 500000, n),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, days, n) * 86400.0),
        "o_orderpriority": prio[rng.integers(0, 5, n)]})
    n = ROWS["lineitem"]
    qty = rng.integers(1, 51, n).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, days + 95, n) * 86400.0)})
    n = ROWS["events"]
    # ts grows with event_id plus up to an hour of jitter: per-user order
    # in the file is not ts order
    base = np.sort(rng.uniform(0, 30 * 86400.0, n)) + rng.uniform(0, 3600, n)
    t["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": _ts("2024-01-01", base),
        "user_id": pa.array(rng.integers(0, USERS, n), pa.int64()),
        "event_type": np.array(["click", "view", "signup", "purchase", "error"])[
            rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.03, 327.5, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = ROWS["documents"]
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(8, 60))])
             for _ in range(n)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "fr", "es", "zh", "de"])[
            rng.choice(5, n, p=[0.39, 0.16, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    n = ROWS["embeddings"]
    label = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[label] + rng.normal(0, 0.8, (n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return t


def generate(out_dir, seed):
    """Write every table as OUT_DIR/<name>.parquet (atomically per dir)."""
    if os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return out_dir
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, tb in tables(seed).items():
        pq.write_table(tb, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    os.replace(tmp, out_dir)
    return out_dir


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
