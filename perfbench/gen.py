"""Deterministic synthetic corpus for the benchmark.

The tables have the shape the engine's entries read: a TPC-H-like star
schema (region, nation, customer, supplier, part, orders, lineitem), an
`events` stream table, `documents` (5% of them near-duplicates of an
earlier document) and `embeddings` (64-dim unit vectors with a weak
per-label centroid). Row counts follow the scale factor `sf`:
lineitem ~ 6M x sf, orders 1.5M x sf, events 1M x sf.

The corpus is a fixed input: it is generated from CORPUS_SEED, never
from the run seed, so the expected output digests stored next to this
file hold for every run. The run seed only orders the operations.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
GENERATOR_VERSION = 2

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (["en"] * 41) + (["zh"] * 15) + (["de"] * 14) + (["fr"] * 15) + \
        (["es"] * 15)
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PADJ = ["large", "hot", "blue", "old", "cold", "red", "green", "tiny"]
PNOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _ts(days_from_epoch):
    return pa.array((np.asarray(days_from_epoch, dtype=np.int64)
                     * 86_400_000_000), type=pa.timestamp("us"))


def _days(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D")
               .astype(np.int64))


def base_tables(sf):
    """All ten tables at scale factor `sf` as pyarrow Tables."""
    rng = np.random.default_rng(CORPUS_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_part = max(200, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = 5000 if sf >= 0.1 else 500
    n_vec = 2000 if sf >= 0.1 else 500
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PADJ[a]} {PNOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    d0, d1 = _days(1995, 1, 1), _days(2001, 8, 1)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    s0, s1 = _days(1995, 1, 2), _days(2001, 11, 4)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng.integers(s0, s1 + 1, n_line))})
    ev_start = _days(2024, 1, 1) * 86_400_000_000
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + ev_start
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_us, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    x = rng.normal(0.0, 1.0, (n_vec, 64)) + 0.6 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def table_checksum(table):
    """Order-insensitive checksum: sum of per-row 64-bit hashes."""
    import pandas as pd
    df = table.to_pandas()
    for c in df.columns:
        if pa.types.is_list(table.schema.field(c).type):
            df[c] = [np.asarray(v).tobytes() for v in df[c]]
    rows = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    return f"{int(rows.sum(dtype=np.uint64)):016x}"


def ensure_corpus(root, name, sf):
    """Write the corpus under root/name once; return its manifest."""
    path = os.path.join(root, name)
    manifest_path = os.path.join(path, "_manifest.json")
    spec = {"generator": GENERATOR_VERSION, "corpus_seed": CORPUS_SEED,
            "sf": sf}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if manifest.get("spec") == spec:
            return manifest
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = base_tables(sf)
    rows, sums = {}, {}
    for tname, table in sorted(tables.items()):
        pq.write_table(table, os.path.join(tmp, f"{tname}.parquet"))
        rows[tname] = table.num_rows
        sums[tname] = table_checksum(table)
    manifest = {"spec": spec, "rows": rows, "checksums": sums}
    with open(os.path.join(tmp, "_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.rename(tmp, path)
    return manifest
