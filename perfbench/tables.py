"""Seeded generator for the driver-suite tables.

The driver operators read a TPC-H-shaped star schema plus ``events``,
``documents`` and ``embeddings`` tables from one directory of parquet
files (``<dir>/<table>.parquet``). This module writes such a directory
from a seed and a scale factor ``sf``, so the benchmark owns its inputs
instead of reading a shared, pre-built copy.

Row counts, column types and value distributions follow the reference
tables the operators are gated on (seed 42, sf 0.001 / 0.01 / 0.1; the
measured shape is listed in perfbench/README.md). The one deliberate
difference: event timestamps are whole seconds (see ``build_tables``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "cold"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut",
              "spring"]
_PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_DOC_WORDS = ["a", "the", "agg", "batch", "big", "column", "customer",
              "data", "fast", "filter", "group", "hash", "join", "key",
              "line", "merge", "order", "part", "query", "row", "scan",
              "slow", "small", "sort", "spark", "stream", "table", "value",
              "vector", "window"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
_EMB_DIM = 64
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _days(rng: np.random.Generator, n: int, span_days: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(0, span_days, n) * _DAY_US


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Return every table as an Arrow table; same (seed, sf) -> same rows."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_orders = max(1_500, int(1_500_000 * sf))
    n_lines = 4 * n_orders
    n_users = max(1, int(15_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = min(2_000, max(500, int(50_000 * sf)))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _days(rng, n_orders, 2404),
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders)})
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_lines),
        "l_partkey": rng.integers(0, n_part, n_lines),
        "l_suppkey": rng.integers(0, n_supp, n_lines),
        "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
        "l_quantity": qty,
        # independent of the quantity, as in the reference tables
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0,
                                                n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": _days(rng, n_lines, 2499)})
    # events arrive in time order over 30 days (sessionize / as-of joins
    # depend on it), on whole seconds: the sessionize operator compares
    # gaps in whole seconds and its DuckDB twin in fractional ones, so a
    # sub-second gap just over the 30-minute limit splits a session in
    # one engine only
    gaps = rng.exponential(30 * 86_400 / n_events, n_events)
    ts = (np.datetime64("2024-01-01", "us")
          + np.cumsum(gaps).astype(np.int64) * 1_000_000)
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    # documents: short texts over a small vocabulary; ~5% are a near
    # duplicate of an earlier document (its text plus a "dup" token), which
    # is what the dedup and document-ER operators look for
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_tok = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_DOC_WORDS, n_tok)))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    # unit vectors in random directions; the label carries no geometry
    labels = rng.integers(0, 10, n_vecs)
    vecs = rng.normal(size=(n_vecs, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> int:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns bytes
    written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tbl in build_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total
