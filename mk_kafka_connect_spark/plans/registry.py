"""Query registry: the engine's declared, oracle-checkable surface.

Every operator from SURVEY.md §2 lands here as a named query: a DataFrame
builder (the engine path) plus, where SQL-expressible, the equivalent
DuckDB SQL (the oracle path). The driver executes both at sf=0.01 and
compares row-count + schema + order-insensitive value hash — so builders
MUST alias every computed column to the same name the oracle uses, and
float-producing expressions use the exact-arithmetic helpers in
``mk_kafka_connect_spark.functions`` so both engines produce bit-identical
values.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "QuerySpec",
    "QUERIES",
    "query",
    "spark_queries",
    "oracle_queries",
    "DRIVER_WINDOW",
    "LEDGER",
    "load_ledger",
    "certification_order",
]

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL over the pre-registered views, or None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}

# The driver's correctness gate certifies only the FIRST DRIVER_WINDOW
# entries of the exposed query dict. Which queries land there is computed
# from the fingerprint ledger by certification_order(); everything else
# stays covered by the pytest oracle-parity suite
# (tests/test_oracle_parity.py), which runs the same comparison locally.
DRIVER_WINDOW = 50

# The fingerprint ledger (maintained by tools/fingerprints.py): per query,
# the source-closure fingerprint its newest green driver row certified,
# that row's round (``evidence_round``) and, when HEAD code no longer
# matches the fingerprint, ``drifted: true``.
LEDGER = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "QUERY_FINGERPRINTS.json",
)


def load_ledger() -> dict[str, dict]:
    """The fingerprint ledger, or ``{}`` when the file is absent."""
    if not os.path.exists(LEDGER):
        return {}
    with open(LEDGER) as f:
        return json.load(f)


def certification_order(ledger: dict[str, dict] | None = None) -> list[str]:
    """Every registered query, the one most owed driver evidence first.

    Pending queries — ledger row flagged ``drifted``, or no ledger row at
    all — lead; within each group the oldest ``evidence_round`` goes first
    (no round counts as 0); ties keep registration order. Re-stamping a
    certified window moves it to the back, so the window rotates without
    a per-round edit. ``ledger`` defaults to the committed file.
    """
    ledger = load_ledger() if ledger is None else ledger
    index = {name: i for i, name in enumerate(QUERIES)}

    def key(name: str) -> tuple[bool, int, int]:
        row = ledger.get(name)
        pending = row is None or bool(row.get("drifted"))
        return (not pending, (row or {}).get("evidence_round") or 0, index[name])

    return sorted(QUERIES, key=key)


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Register a (DataFrame builder, oracle SQL) pair under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags, doc=fn.__doc__ or "")
        return fn

    return deco


def spark_queries() -> dict[str, QueryFn]:
    return {name: QUERIES[name].fn for name in certification_order()}


def oracle_queries() -> dict[str, str]:
    return {
        name: QUERIES[name].oracle
        for name in certification_order()
        if QUERIES[name].oracle is not None
    }
