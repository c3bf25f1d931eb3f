"""Seeded star-schema tables for the reporting workload.

Same table names, column names and parquet types as the engine's input
tables (``tables.TABLE_NAMES``), with value domains that mirror them:
TPC-H-like keys and foreign keys, five event types, word-vocabulary
documents. Only the tables the reporting keys read are written. Event
timestamps are distinct, so every as-of and last-writer-wins ordering in
the reporting keys is total, and their results do not depend on
partitioning.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = ("the", "a", "data", "spark", "stream", "batch", "join", "scan",
         "hash", "sort", "group", "agg", "window", "filter", "query", "table",
         "row", "column", "key", "value", "order", "part", "line", "vector",
         "merge", "small", "big", "fast", "slow", "customer")

_DAY_US = 86_400 * 1_000_000
_ORDER_EPOCH = np.datetime64("1995-01-01", "us").astype(np.int64)
_EVENT_EPOCH = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def star_tables(seed: int, customers: int) -> dict[str, pa.Table]:
    """Tables sized by the customer count (sf0.1 of the engine's inputs
    has 15,000 customers; the other tables keep its ratios)."""
    rng = np.random.default_rng(seed)
    n_c, n_s, n_o = customers, max(10, customers // 15), customers * 10
    n_users = max(10, customers // 10)
    n_e = n_users * 66
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_c)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s)})
    o_days = rng.integers(0, 2404, n_o)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, 1000, 500000, n_o),
        "o_orderdate": _ts(_ORDER_EPOCH + o_days * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_o)]})
    lines = rng.integers(1, 8, n_o)
    l_order = np.repeat(np.arange(n_o), lines)
    n_l = len(l_order)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    flags = rng.integers(0, 6, n_l)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_c * 4 // 3, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags % 3],
        "l_linestatus": np.array(["F", "O"])[flags // 3],
        "l_shipdate": _ts(_ORDER_EPOCH + (np.repeat(o_days, lines)
                                          + rng.integers(1, 122, n_l))
                          * _DAY_US)})
    span = 30 * _DAY_US
    offs = np.sort(rng.integers(0, span - n_e, n_e)) + np.arange(n_e)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": _ts(_EVENT_EPOCH + offs),
        "user_id": pa.array(rng.integers(0, n_users, n_e), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_e)],
        "value": _money(rng, 0, 200, n_e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})
    out["documents"] = documents(seed, customers // 3)
    return out


def documents(seed: int, n: int) -> pa.Table:
    """Word-vocabulary documents: mostly distinct, with exact copies (the
    groups ``exact_dedup`` finds), near-duplicates (a few words edited)
    and short texts."""
    rng = np.random.default_rng(seed + 7919)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for _ in range(n):
        r = rng.random()
        if texts and r < 0.05:
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and r < 0.15:
            words = texts[int(rng.integers(0, len(texts)))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = str(
                    vocab[rng.integers(2, len(vocab))])
            texts.append(" ".join(words))
        elif r < 0.20:
            words = vocab[rng.integers(2, len(vocab), rng.integers(3, 9))]
            texts.append(" ".join(words))
        else:
            words = vocab[rng.integers(0, len(vocab), rng.integers(20, 90))]
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": ["en"] * n,
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def write_tables(tables: dict[str, pa.Table], directory: str) -> int:
    """One single-row-group parquet file per table, like the engine's
    inputs. Returns the bytes written."""
    os.makedirs(directory, exist_ok=True)
    total = 0
    for name, t in tables.items():
        path = os.path.join(directory, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=max(1, t.num_rows))
        total += os.path.getsize(path)
    return total
