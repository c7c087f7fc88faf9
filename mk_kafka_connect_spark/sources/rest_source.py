"""Paginated-REST CDC DataSource for Spark (the reference connector's A1
surface re-expressed as a Spark 4 Python DataSource).

Batch: ``spark.read.format("paginated_rest").options(**opts).load()`` —
one input partition per entity (the Spark-native version of the
reference's task fan-out, ``ChargeOverSourceConnector.java:55-69``; where
the reference recommends ``tasks.max=1``, Spark reads entities in parallel
across executors for free).

Streaming: ``spark.readStream.format("paginated_rest")`` via
``SimpleDataSourceStreamReader`` whose offset JSON carries the same
7-field per-entity state the reference serializes into every record
(``ChargeOverSourceTask.java:34-52,405-416``): resume is exact to the page
boundary, and gap recovery falls out of the micro-batch contract exactly
as it does from Connect's offset storage.

Output schema (the typed envelope around schemaless payloads,
SURVEY.md §1.2):

    entity string, key string, payload string (raw JSON),
    _ingestion_timestamp long (epoch ms, Task.java:427),
    _load_mode string (INITIAL_LOAD | INCREMENTAL_LOAD),
    _event_datetime string (the entity's incremental datetime field,
    verbatim as served — the typed projection of the value the
    reference uses as its windowing key, Task.java:245-262)

Rows missing their id field are DROPPED, like ``Task.java:396-401``.
Scale: each entity partition streams pages through a generator — no page
list materialization; per-executor memory is one page (≤500 rows).

Planner-level pushdown (Spark 4.1 ``pushFilters``): the reference pushes
its datetime window and entity selection into the API URL from connector
state (``ApiClient.java:91-112``); here a user-written ``.filter()`` on
the relation reaches the fetch the Catalyst way —

* ``entity = 'x'`` / ``entity IN (...)`` prunes input partitions (whole
  entities are never fetched);
* ``_event_datetime >= lo`` / ``< hi`` tighten the half-open GTE/LT
  window ``build_url`` already emits, so the server trims the pages.

Datetime filters are re-returned to Spark (partial pushdown): the server
compares lexicographically on the raw string exactly like Spark does,
but NULL ``_event_datetime`` rows would survive a server-side ``where``
while Spark's ternary logic drops them — returning the filter keeps the
semantics Catalyst-defined while the fetch still shrinks.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator, Sequence
from dataclasses import asdict

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..streaming.incremental import INITIAL_LOAD, EntityState
from ..worker_daemon import stable_archives
from .config import DATETIME_FMT, RestSourceConfig
from .rest_client import RestClient

__all__ = ["PaginatedRestDataSource", "REST_SCHEMA", "register"]

REST_SCHEMA = StructType(
    [
        StructField("entity", StringType()),
        StructField("key", StringType()),
        StructField("payload", StringType()),
        StructField("_ingestion_timestamp", LongType()),
        StructField("_load_mode", StringType()),
        StructField("_event_datetime", StringType()),
    ]
)


def _fetch_rows(
    cfg: RestSourceConfig,
    entity: str,
    lo: str | None,
    hi: str | None,
    load_mode: str,
    offset: int,
) -> Iterator[tuple]:
    """One entity's half-open window [lo, hi) from page ``offset`` — the
    pagination loop of Task.java:195-240 — as source rows; shared by the
    batch and the stream reader.

    Each record becomes a row the way createSourceRecord
    (Task.java:394-449) builds one: extract the key, drop keyless rows,
    wrap the payload as JSON, stamp metadata; the incremental datetime
    field is surfaced as a typed column so Catalyst filters on it are
    pushable."""
    client = RestClient(
        cfg.base_url,
        cfg.username,
        cfg.password,
        timeout_s=cfg.request_timeout_s,
        max_retries=cfg.max_retries,
    )
    id_field, dt_field = cfg.id_field(entity), cfg.datetime_field(entity)
    for _, page in client.fetch_all(
        entity,
        dt_field,
        lo,
        hi,
        cfg.batch_size,
        cfg.entity_query_params(entity),
        start_offset=offset,
    ):
        for rec in page.records:
            rid = rec.get(id_field)
            if rid is None:
                continue  # Task.java:396-401 — skip records without an id
            dt = rec.get(dt_field)
            yield (
                entity,
                json.dumps({id_field: rid}),  # key map, Task.java:431-432
                json.dumps(rec, sort_keys=True),
                int(time.time() * 1000),  # _ingestion_timestamp, Task.java:427
                load_mode,
                None if dt is None else str(dt),
            )


def _tighter(a: str | None, b: str | None, pick) -> str | None:
    """The tighter of two optional bounds (``pick`` is min or max)."""
    if a is None:
        return b
    if b is None:
        return a
    return pick(a, b)


class _EntityPartition(InputPartition):
    def __init__(self, entity: str, start: str | None, end: str | None, offset: int):
        self.entity = entity
        self.start = start
        self.end = end
        self.offset = offset


class _RestBatchReader(DataSourceReader):
    def __init__(self, cfg: RestSourceConfig, options: dict):
        self.cfg = cfg
        self.options = options
        # Pushdown state, mutated by pushFilters() before partitions()
        # (the documented Spark 4.1 contract: pushFilters may modify self
        # and the result is visible to partitions()/read()).
        self._pushed_start: str | None = None
        self._pushed_end: str | None = None
        self._pushed_entities: set[str] | None = None

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Catalyst-side parity with ApiClient.java:91-112: entity
        equality prunes partitions; ``_event_datetime`` bounds tighten
        the GTE/LT window in the fetch URL. Datetime filters are
        re-returned (partial pushdown — Spark keeps NULL semantics);
        entity filters are consumed (partition pruning is exact)."""
        remaining: list[Filter] = []
        for f in filters:
            attr = tuple(getattr(f, "attribute", ()))
            value = getattr(f, "value", None)
            if attr == ("entity",) and isinstance(f, (EqualTo, In)):
                keep = set(value) if isinstance(f, In) else {value}
                if all(isinstance(v, str) for v in keep):
                    self._pushed_entities = (
                        keep if self._pushed_entities is None
                        else self._pushed_entities & keep
                    )
                    continue  # exact: consumed
            if attr == ("_event_datetime",) and isinstance(value, str):
                # GT is fetched as GTE (superset); Spark re-applies the
                # strict bound since every datetime filter is returned.
                if isinstance(f, (GreaterThanOrEqual, GreaterThan)):
                    self._pushed_start = _tighter(self._pushed_start, value, max)
                elif isinstance(f, LessThan):
                    self._pushed_end = _tighter(self._pushed_end, value, min)
            remaining.append(f)
        return iter(remaining)

    def partitions(self) -> Sequence[InputPartition]:
        # One partition per entity (A17 fan-out done Spark-natively),
        # window-tightened and entity-pruned by any pushed filters.
        entities = [
            e
            for e in self.cfg.entities
            if self._pushed_entities is None or e in self._pushed_entities
        ]
        end = _tighter(self.options.get("end_datetime"), self._pushed_end, min)
        return [
            _EntityPartition(
                e,
                _tighter(self.cfg.initial_datetimes.get(e), self._pushed_start, max),
                end,
                0,
            )
            for e in entities
        ]

    def read(self, partition: _EntityPartition) -> Iterator[tuple]:
        # Runs in an executor worker: a no-op where worker_daemon already
        # ran, else the worker's later tasks skip re-reading the archives.
        stable_archives()
        return _fetch_rows(
            self.cfg,
            partition.entity,
            partition.start,
            partition.end,
            INITIAL_LOAD,
            partition.offset,
        )


class _RestStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch stream: each batch drains everything newer than the
    per-entity watermark, freezing the upper bound at batch start
    (half-open window [last, end), Task.java:245-262). The offset dict is
    the 7-field EntityState per entity, moved by the same
    ``start_batch``/``complete_batch`` transitions as IncrementalDriver."""

    def __init__(self, cfg: RestSourceConfig):
        self.cfg = cfg
        self._clock = lambda: time.strftime(DATETIME_FMT, time.gmtime())

    def initialOffset(self) -> dict:
        # Fresh start: from configured initial datetime or "now"
        # (Task.java:117-129).
        now = self._clock()
        start = self.cfg.initial_datetimes
        return {
            e: asdict(EntityState(last_processed_datetime=start.get(e, now)))
            for e in self.cfg.entities
        }

    def _drain(self, start: dict, end_bounds: dict) -> tuple[list[tuple], dict]:
        """Start a batch per entity at ``end_bounds[e]`` and fetch its
        window [last, end) — the deterministic core shared by read() and
        readBetweenOffsets(). Returns the rows and the started states."""
        states = {e: EntityState(**st) for e, st in start.items()}
        rows: list[tuple] = []
        for e, st in states.items():
            st.start_batch(end_bounds[e])
            lo, hi = st.last_processed_datetime, st.batch_end_datetime
            if hi is not None and lo < hi:  # else empty: nothing to (re)fetch
                rows.extend(
                    _fetch_rows(self.cfg, e, lo, hi, st.load_mode, st.current_offset)
                )
        return rows, states

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        end_dt = self._clock()  # freeze upper bound, Task.java:245-262
        rows, states = self._drain(start, {e: end_dt for e in start})
        for st in states.values():
            st.complete_batch()
        return iter(rows), {e: asdict(st) for e, st in states.items()}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        """Replay for recovery: re-read exactly [start[e].last, end[e].last)
        per entity — the "no data ever skipped" guarantee (CO-README:512-525).

        The upper bound comes from the END offset's state, NOT the current
        clock: a replay that re-froze "now" would emit rows in
        [end.last, now) that the next live batch (starting at end) emits
        again — duplicates across epochs, which the epoch-idempotent sink
        cannot absorb.
        """
        bounds = {
            e: (end.get(e) or {}).get("last_processed_datetime")
            for e in start
        }
        return iter(self._drain(start, bounds)[0])


class PaginatedRestDataSource(DataSource):
    """``format("paginated_rest")`` — options mirror the reference's
    property names (url, entities, batch.size, max.retries,
    incremental.datetime.fields, entity.id.fields, initial.datetimes,
    entity.query.params...)."""

    @classmethod
    def name(cls) -> str:
        return "paginated_rest"

    def schema(self) -> StructType:
        return REST_SCHEMA

    def _config(self) -> RestSourceConfig:
        cfg = RestSourceConfig.from_options(dict(self.options))
        if not cfg.base_url:
            raise ValueError("paginated_rest: 'url' option is required")
        return cfg

    def reader(self, schema: StructType) -> DataSourceReader:
        # Runs in Spark's planner workers, which ignore
        # spark.python.daemon.module: a reused worker's next task then
        # skips re-reading Spark's archives (see worker_daemon).
        stable_archives()
        return _RestBatchReader(self._config(), dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return _RestStreamReader(self._config())


def register(spark) -> None:
    """Register ``paginated_rest`` on ``spark`` so that it works from any
    session, not just ``get_spark``-built ones: this module and every
    package module its worker-side code reaches are pickled by value
    (``sources._register_python_source``). Idempotent per session; every
    rest_* query calls it."""
    import sys

    from .. import worker_daemon as _worker_daemon
    from ..streaming import incremental as _incremental
    from . import _register_python_source
    from . import config as _config
    from . import rest_client as _rest_client

    modules = (sys.modules[__name__], _config, _rest_client, _incremental, _worker_daemon)
    if not _register_python_source(spark, PaginatedRestDataSource, modules):
        return
    # _RestBatchReader implements pushFilters; Spark REFUSES to plan a
    # pushdown-capable Python DataSource while the feature flag is off
    # (DATA_SOURCE_PUSHDOWN_DISABLED), so enabling it here is part of
    # registering the source. Runtime-settable SQL conf — and SESSION-
    # GLOBAL: it changes planning for every Python DataSource in the
    # session, not just this one. Set it only on first registration and
    # only if the session has not already pinned a value (ADVICE r16),
    # so an operator's explicit `false` is never silently overridden.
    key = "spark.sql.python.filterPushdown.enabled"
    try:
        # conf.get() can't distinguish "unset" from the SQLConf
        # default ("false"); the session's explicit-settings map can.
        explicitly_set = bool(
            spark._jsparkSession.sessionState().conf().settings().containsKey(key)
        )
    except Exception:  # noqa: BLE001  # internal API moved: old behavior
        explicitly_set = False
    if not explicitly_set:
        spark.conf.set(key, "true")
