"""Seeded star-schema tables for the operator-registry gates.

The registry gates read ten parquet tables (TPC-H-like region, nation,
customer, supplier, part, orders, lineitem; plus events, documents and
embeddings). This writes tables of the same schemas and value shapes at a
scale factor ``sf`` (lineitem = 6M * sf rows), so the registry workload reads
only inputs made from its seed. Money columns carry two decimals, so the
gates' exact-decimal aggregates stay exact. ``events.ts`` is written as INT64
TIMESTAMP(NANOS), the encoding ``queries._io.load_table`` documents for its
input (it reads such files with ``nanosAsLong`` and rebuilds microseconds);
the other timestamps are microseconds.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "scan column window order sort part agg value line key join merge group query a "
    "vector hash slow stream filter fast the batch spark table small data big customer row"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
SEGMENTS = ["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD"]
P_ADJ = ["cold", "new", "hot", "red", "old", "large", "blue", "small"]
P_NOUN = ["gear", "anvil", "widget", "rod", "bolt", "plate", "ring", "gizmo"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_star(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten tables for ``sf`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_ord, n_li = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp, n_ev = int(200_000 * sf), max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part), rng.choice(P_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2500, n_li)})
    ts = np.datetime64("2024-01-01", "ns") + np.sort(rng.integers(0, 30 * 86400 * 10**9, n_ev)).astype(
        "timedelta64[ns]")
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": rng.integers(0, max(15, n_ev // 67), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2).clip(0.01, None),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.06:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words) + " dup")
        else:
            n_chars = int(rng.integers(48, 554))
            words, size = [], 0
            while size < n_chars:
                w = WORDS[int(rng.integers(0, len(WORDS)))]
                words.append(w)
                size += len(w) + 1
            texts.append(" ".join(words)[:n_chars].rstrip())
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + 0.8 * rng.normal(size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
