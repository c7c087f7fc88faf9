"""Synthetic star-schema tables for the benchmark, generated from a seed.

The engine's queries read ten parquet tables (``catalog.TABLES``) from one
directory. This module writes that directory: the same names, column types
and value ranges as the fixture layout documented in ``FIXTURES.md`` §1,
drawn from uniform and exponential distributions. Row counts scale with
``sf`` (lineitem has 6M x sf rows). The same ``(sf, seed)`` always writes
identical files.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

__all__ = ["build_tables", "write_tables"]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EMBED_DIM = 64


def _us(ts: str) -> int:
    """Naive datetime string -> epoch microseconds (UTC wall clock)."""
    return (datetime.fromisoformat(ts) - datetime(1970, 1, 1)) // _ONE_US


_ONE_US = timedelta(microseconds=1)


def _days(rng: np.random.Generator, n: int, start: str, ndays: int) -> pa.Array:
    day_us = 86_400 * 1_000_000
    us = _us(start) + rng.integers(0, ndays + 1, n) * day_us
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(
        pa.string()
    )


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i and roll < 0.002:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        elif i and roll < 0.052:
            texts.append(texts[int(rng.integers(0, i))] + " dup")  # near duplicate
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, _EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * _EMBED_DIM, _EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, keyed by name."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_li = max(int(6_000_000 * sf), 10)
    n_ev = max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 10)
    n_emb = max(int(20_000 * sf), 10)
    i32 = pa.int32()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(_REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    part_keys = np.arange(n_part, dtype=np.int64)
    part_names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(part_keys),
            "p_name": _pick(rng, part_names, n_part),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (part_keys % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", 2403),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", 2498),
        }
    )
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(_us("2024-01-01") + rng.integers(0, span_us, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev)),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
