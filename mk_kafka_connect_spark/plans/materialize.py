"""Driver-built DataFrames: JVM-local relations for driver rows, and
driver-side result materialization with an explicit size contract.

Several registry queries compute their result inside a ``finally``-cleaned
scope (a temp-dir warehouse, a streaming memory sink, a conf override) and
must return a DataFrame that outlives that scope; others compute a handful
of rows on the driver (a model, a probe's counters). Both end in a
driver-built DataFrame, and this module is the ONE place that builds one
(``tests/test_plan_smells.py`` fails on any ``createDataFrame(`` elsewhere
in ``plans/`` or ``operators/``):

- ``local_relation`` turns Python rows into an Arrow table first. Spark
  plans an Arrow table as a ``LocalTableScan`` that the JVM answers
  alone; classic ``createDataFrame(rows, schema)`` plans a ``Scan
  ExistingRDD`` over a PythonRDD, whose action starts one Python worker
  task per default-parallelism slot to return the rows.
- ``materialize_result`` copies a small result through the driver
  (``createDataFrame(df.collect(), df.schema)``) and fails loudly past a
  row ceiling so the idiom can never silently ship into a data-sized
  path and OOM the driver at scale.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

__all__ = ["MATERIALIZE_ROW_CEILING", "local_relation", "materialize_result"]

# Generous for every current use (the largest materialized result is
# ~4k rows at sf0.1) yet far below driver-memory danger; a query whose
# final state legitimately outgrows this should persist to parquet and
# re-read instead of materializing.
MATERIALIZE_ROW_CEILING = 100_000


def local_relation(
    spark: SparkSession, rows: Iterable[Any], schema: str | StructType
) -> DataFrame:
    """Python rows (tuples, Rows or dicts) under a DDL string or
    ``StructType`` as a DataFrame over an Arrow table. Values convert as
    in ``createDataFrame(rows, schema)``: a naive ``datetime`` for a
    TIMESTAMP column is local time, one for TIMESTAMP_NTZ is wall time."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    rows = list(rows)
    table = (
        LocalDataToArrowConversion.convert(rows, schema, use_large_var_types=False)
        if rows
        else to_arrow_schema(schema).empty_table()
    )
    return spark.createDataFrame(table, schema=schema)


def materialize_result(
    spark: SparkSession,
    df: DataFrame,
    *,
    ceiling: int = MATERIALIZE_ROW_CEILING,
) -> DataFrame:
    """Copy a SMALL result through the driver so it survives the teardown
    of whatever it was computed from. Raises if the result is not small —
    the contract that keeps this harness idiom out of data-sized paths.

    Collects through ``limit(ceiling + 1)`` (ADVICE r16): a genuinely
    data-sized result trips the guard at ceiling+1 rows instead of
    OOMing the driver mid-``collect()`` before the check runs. When the
    guard does not trip, the limit never truncated, so the probe IS the
    complete row set and is returned directly (LIMIT's row-ORDER
    nondeterminism is no looser than plain ``collect()`` on an
    unordered plan, and a sorted parent keeps its order through
    GlobalLimit).
    """
    probe = df.limit(ceiling + 1).collect()
    if len(probe) > ceiling:
        raise ValueError(
            f"materialize_result: result exceeds the {ceiling}-row "
            "driver-side ceiling — this result is data-sized; persist "
            "it to parquet and re-read instead"
        )
    return spark.createDataFrame(probe, schema=df.schema)
