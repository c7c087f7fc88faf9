"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.B B13/B14): per-key running aggregates with explicit state —
the general mechanism behind anything the built-in windowed aggregates
can't express (counters with custom merge logic, per-entity CDC
bookkeeping like the reference's EntityState, ``ChargeOverSourceTask.java:34-52``).
"""

from __future__ import annotations

import sys
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = ["running_user_stats"]

# Workers of a session this package did not build cannot import it, so
# ``_update`` travels by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

OUTPUT_SCHEMA = "user_id long, n_seen long, max_value double, total_value double"
STATE_SCHEMA = "n long, mx double, total double"


def _update(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, mx, total = state.get
    else:
        n, mx, total = 0, float("-inf"), 0.0
    for pdf in pdfs:
        n += len(pdf)
        if len(pdf):
            mx = max(mx, float(pdf["value"].max()))
            # Cent-exact accumulation: floats are 2-decimal payments.
            total += float((pdf["value"] * 100).round().sum()) / 100.0
    state.update((n, mx, total))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_seen": [n],
            "max_value": [mx],
            "total_value": [round(total, 2)],
        }
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Per-user running (count, max, exact total) maintained in explicit
    group state; emits the updated row per key per micro-batch. State is
    O(keys) — the scale knob is key cardinality, not event volume.

    ``_update`` is a module-level function; this module is pickled by
    value, so workers that cannot import the package run it."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
