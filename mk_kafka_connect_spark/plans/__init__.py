"""Declared query plans. Importing this package populates the registry."""

from . import advanced, analysis, curation, evaluation, governance, graph, inference, layout, llm, relational, rest, scalar, streaming, textstats, tpch, udf, warehouse  # noqa: F401
from . import audit  # noqa: F401  (round-18 family; imported last so earlier registration order is stable)
from .registry import (
    QUERIES,
    certification_order,
    oracle_queries,
    query,
    spark_queries,
)

__all__ = [
    "QUERIES",
    "query",
    "spark_queries",
    "oracle_queries",
    "certification_order",
]
