"""Incremental CDC batch driver — the reference's stateful scan loop
(``ChargeOverSourceTask.java:135-291``) rebuilt on Spark batch jobs with a
file-backed state document.

Semantics preserved exactly:

* 7-field per-entity state (``Task.java:34-52``): load_mode,
  last_processed_datetime, batch_end_datetime, next_scheduled_run,
  current_offset, is_processing_batch, retry_count
* half-open batch windows ``[last_processed, batch_end)`` with the upper
  bound FROZEN at batch start, so in-flight mutations land in the next
  batch (``Task.java:245-262``)
* readiness gate: INITIAL_LOAD is always ready while behind now;
  INCREMENTAL_LOAD waits for the cron-scheduled next run
  (``Task.java:178-190``)
* INITIAL → INCREMENTAL mode switch at batch completion + next cron fire
  computed (``Task.java:267-291,378-389``)
* crash recovery: state only advances after the sink write commits, so a
  re-run re-processes the same window — at-least-once into an idempotent
  (overwrite-by-window) sink, the same "no data ever skipped" guarantee as
  the reference (CO-README:512-525)

The sink is a callable ``(DataFrame, entity, window) -> None`` — typically
an overwrite-partition parquet/Delta write or a Kafka producer batch.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Callable
from dataclasses import asdict, dataclass
from datetime import datetime

from pyspark.sql import DataFrame

from ..sources.config import DATETIME_FMT
from .cron import next_fire

__all__ = ["EntityState", "StateStore", "IncrementalDriver", "Window"]

INITIAL_LOAD = "INITIAL_LOAD"
INCREMENTAL_LOAD = "INCREMENTAL_LOAD"


@dataclass
class EntityState:
    """Task.java:34-52, field for field, and its two batch transitions —
    the one owner of the per-entity state format. ``IncrementalDriver``
    keeps these in its state document; the streaming REST reader
    (``sources/rest_source.py``) serializes them as its offset via
    ``asdict``. The streaming source runner unpickles this class by value,
    so the methods must reference nothing outside this module's constants
    (the caller computes the cron fire)."""

    load_mode: str = INITIAL_LOAD
    last_processed_datetime: str | None = None
    batch_end_datetime: str | None = None
    next_scheduled_run: int = 0  # epoch millis, Task.java:38
    current_offset: int = 0
    is_processing_batch: bool = False
    retry_count: int = 0

    def start_batch(self, end: str | None) -> None:
        """startNewBatch (Task.java:245-262): freeze the upper bound, so
        in-flight mutations land in the next batch."""
        self.batch_end_datetime = end
        self.current_offset = 0
        self.is_processing_batch = True

    def complete_batch(self, next_run: int = 0) -> None:
        """completeBatch (Task.java:267-291): advance the watermark to the
        frozen bound, switch INITIAL → INCREMENTAL, schedule the next run.
        The max() keeps the watermark monotonic if the clock steps
        backwards (NTP correction, VM migration): a regressed watermark
        would re-emit the [end, previous watermark) window."""
        self.last_processed_datetime = max(
            self.last_processed_datetime, self.batch_end_datetime
        )
        self.batch_end_datetime = None
        self.current_offset = 0
        self.is_processing_batch = False
        self.retry_count = 0
        self.load_mode = INCREMENTAL_LOAD
        self.next_scheduled_run = next_run


@dataclass
class Window:
    entity: str
    start: str
    end: str


class StateStore:
    """Durable per-entity state document (the engine's offset topic).
    Atomic JSON file writes; on a cluster this would be an object-store
    path — same contract, same single-writer assumption as Connect's
    offset storage."""

    def __init__(self, path: str):
        self.path = path

    def load(self) -> dict[str, EntityState]:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            raw = json.load(f)
        return {e: EntityState(**st) for e, st in raw.items()}

    def save(self, states: dict[str, EntityState]) -> None:
        d = os.path.dirname(self.path) or "."
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump({e: asdict(st) for e, st in states.items()}, f, indent=1)
        os.replace(tmp, self.path)  # atomic on POSIX


class IncrementalDriver:
    """One ``run_once`` = one poll cycle over all entities (Task.java:
    135-173): for each ready entity, freeze a window, produce its
    DataFrame, hand it to the sink, then advance the watermark."""

    def __init__(
        self,
        store: StateStore,
        entities: list[str],
        fetch: Callable[[str, str, str], DataFrame],
        sink: Callable[[DataFrame, str, Window], None],
        cron: str = "0 0 0 * * ?",
        initial_datetimes: dict[str, str] | None = None,
        clock: Callable[[], datetime] | None = None,
        *,
        cron_timezone: str | None = None,
    ):
        self.store = store
        self.entities = entities
        self.fetch = fetch
        self.sink = sink
        self.cron = cron
        # cron.timezone (ChargeOverSourceConnectorConfig.java:64-68,164):
        # the cron's wall-clock fields are interpreted in this zone; the
        # driver clock stays UTC.
        self.cron_timezone = cron_timezone
        self.initial_datetimes = initial_datetimes or {}
        self.clock = clock or datetime.utcnow
        self.states = store.load()
        for e in entities:
            if e not in self.states:
                # Fresh start: configured initial datetime or now
                # (Task.java:117-129).
                start = self.initial_datetimes.get(
                    e, self.clock().strftime(DATETIME_FMT)
                )
                self.states[e] = EntityState(last_processed_datetime=start)
        store.save(self.states)

    def _ready(self, st: EntityState, now: datetime) -> bool:
        """isReadyForProcessing (Task.java:178-190)."""
        if st.is_processing_batch:
            return True  # resume an in-flight batch
        if st.load_mode == INITIAL_LOAD:
            return st.last_processed_datetime < now.strftime(DATETIME_FMT)
        return now.timestamp() * 1000 >= st.next_scheduled_run

    def run_once(self) -> list[Window]:
        """One poll cycle; returns the windows processed."""
        now = self.clock()
        processed: list[Window] = []
        for e in self.entities:
            st = self.states[e]
            if not self._ready(st, now):
                continue
            if not st.is_processing_batch:
                st.start_batch(now.strftime(DATETIME_FMT))
                self.store.save(self.states)
            window = Window(e, st.last_processed_datetime, st.batch_end_datetime)
            self.sink(self.fetch(e, window.start, window.end), e, window)
            # Only after the sink commit: a crash before this line replays
            # the same frozen window.
            fire = next_fire(self.cron, now, tz=self.cron_timezone)
            st.complete_batch(int(fire.timestamp() * 1000))
            self.store.save(self.states)
            processed.append(window)
        return processed
