"""Tests for the cron scheduler and the incremental CDC driver — the
reference's state-machine scenarios (CO-README:39-86,456-533): two-phase
loading, frozen batch windows, checkpointed resume, crash replay."""

from __future__ import annotations

import json
from datetime import datetime

from pyspark.sql import functions as F

from mk_kafka_connect_spark.catalog import load_table
from mk_kafka_connect_spark.operators.cdc import (
    compact_latest,
    enrich_metadata,
    keyed_records,
    route_topics,
    to_kafka_shape,
)
from mk_kafka_connect_spark.streaming.cron import CronExpression, next_fire
from mk_kafka_connect_spark.streaming.incremental import (
    INCREMENTAL_LOAD,
    INITIAL_LOAD,
    IncrementalDriver,
    StateStore,
)


# --- cron (A13) -------------------------------------------------------------


def test_cron_daily_default():
    """Default '0 0 0 * * ?' (Config.java:59-63) fires at next midnight."""
    nxt = CronExpression("0 0 0 * * ?").next_after(datetime(2024, 3, 5, 14, 30))
    assert nxt == datetime(2024, 3, 6, 0, 0, 0)


def test_cron_shipped_config():
    """Shipped '0 0 2 * * ?' (confluent-cloud-config.json:14) → 02:00."""
    nxt = CronExpression("0 0 2 * * ?").next_after(datetime(2024, 3, 5, 2, 0, 0))
    assert nxt == datetime(2024, 3, 6, 2, 0, 0)  # strictly after


def test_cron_step_and_range():
    c = CronExpression("0 */15 9-17 * * ?")
    assert c.next_after(datetime(2024, 3, 5, 9, 16)) == datetime(2024, 3, 5, 9, 30)
    assert c.next_after(datetime(2024, 3, 5, 18, 0)) == datetime(2024, 3, 6, 9, 0)


def test_cron_dow_quartz_numbering():
    # QUARTZ dow: 1=SUN..7=SAT. Sundays only; 2024-03-05 is a Tuesday.
    nxt = CronExpression("0 0 12 ? * 1").next_after(datetime(2024, 3, 5, 0, 0))
    assert nxt == datetime(2024, 3, 10, 12, 0)
    assert nxt.weekday() == 6  # Python Sunday
    # Mon-Fri = Quartz 2-6: from Friday noon the next is Monday.
    nxt = CronExpression("0 0 9 ? * 2-6").next_after(datetime(2024, 3, 8, 12, 0))
    assert nxt == datetime(2024, 3, 11, 9, 0)
    assert nxt.weekday() == 0


def test_cron_dow_zero_rejected():
    """Unix 0=Sunday is ambiguous against Quartz 1=SUN; it must error
    (→ the next_fire fallback), not silently fire a day late."""
    import pytest

    with pytest.raises(ValueError, match="QUARTZ"):
        CronExpression("0 0 12 ? * 0")
    assert next_fire("0 0 12 ? * 0", datetime(2024, 3, 5, 10, 0)) == datetime(
        2024, 3, 6, 10, 0
    )


def test_cron_invalid_falls_back_24h():
    """Task.java:385-388: cron error → +24h."""
    nxt = next_fire("not a cron", datetime(2024, 3, 5, 10, 0))
    assert nxt == datetime(2024, 3, 6, 10, 0)


def test_cron_timezone_shipped_config():
    """The shipped '0 0 2 * * ?' in America/New_York (the whole point of
    cron.timezone, Config.java:64-68): 02:00 EST = 07:00 UTC."""
    c = CronExpression("0 0 2 * * ?", tz="America/New_York")
    nxt = c.next_after(datetime(2024, 1, 10, 0, 0))  # UTC in, UTC out
    assert nxt == datetime(2024, 1, 10, 7, 0, 0)
    # Summer (EDT, UTC-4): 02:00 EDT = 06:00 UTC.
    assert c.next_after(datetime(2024, 7, 10, 0, 0)) == datetime(2024, 7, 10, 6, 0)


def test_cron_timezone_spring_forward_gap():
    """US DST 2024-03-10: 02:00-02:59 EST does not exist — a daily 02:30
    job skips to the NEXT day's 02:30 EDT (06:30 UTC), like Quartz."""
    c = CronExpression("0 30 2 * * ?", tz="America/New_York")
    # 2024-03-09 02:30 EST = 07:30 UTC fires normally:
    assert c.next_after(datetime(2024, 3, 9, 0, 0)) == datetime(2024, 3, 9, 7, 30)
    # From just after that fire, the 03-10 occurrence is skipped:
    assert c.next_after(datetime(2024, 3, 9, 7, 31)) == datetime(2024, 3, 11, 6, 30)


def test_cron_timezone_fall_back_single_fire():
    """US DST end 2024-11-03: 01:30 wall happens twice (EDT 05:30 UTC,
    EST 06:30 UTC). A daily 01:30 job fires ONCE, on the first pass."""
    c = CronExpression("0 30 1 * * ?", tz="America/New_York")
    assert c.next_after(datetime(2024, 11, 3, 0, 0)) == datetime(2024, 11, 3, 5, 30)
    # After the first (EDT) occurrence the next fire is the NEXT day,
    # not the repeated EST 01:30:
    assert c.next_after(datetime(2024, 11, 3, 5, 31)) == datetime(2024, 11, 4, 6, 30)


def test_cron_timezone_none_is_wall_clock():
    """Backward compat: tz=None keeps plain naive wall-clock matching."""
    assert CronExpression("0 0 2 * * ?").next_after(
        datetime(2024, 3, 5, 1, 0)
    ) == datetime(2024, 3, 5, 2, 0)


def test_cron_bad_timezone_falls_back():
    assert next_fire(
        "0 0 2 * * ?", datetime(2024, 3, 5, 10, 0), tz="Not/AZone"
    ) == datetime(2024, 3, 6, 10, 0)


# --- incremental driver (A11/A12) -------------------------------------------


class FakeClock:
    def __init__(self, t: datetime):
        self.t = t

    def __call__(self) -> datetime:
        return self.t


def _driver(spark, tmp_path, clock, sink_rows):
    events = load_table(spark, "/root/testdata/sf0.001", "events")

    def fetch(entity, start, end):
        # Half-open window on the entity stream (string compare — same
        # lexicographic semantics as Task.java:183).
        return events.filter(
            (F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss") >= start)
            & (F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss") < end)
        )

    def sink(df, entity, window):
        sink_rows.append((entity, window.start, window.end, df.count()))

    return IncrementalDriver(
        StateStore(str(tmp_path / "state.json")),
        entities=["events"],
        fetch=fetch,
        sink=sink,
        cron="0 0 0 * * ?",
        initial_datetimes={"events": "2024-01-01 00:00:00"},
        clock=clock,
    )


def test_initial_then_incremental(spark, tmp_path):
    clock = FakeClock(datetime(2024, 1, 15, 0, 0, 0))
    rows = []
    drv = _driver(spark, tmp_path, clock, rows)
    assert drv.states["events"].load_mode == INITIAL_LOAD

    processed = drv.run_once()
    assert len(processed) == 1
    assert processed[0].start == "2024-01-01 00:00:00"
    assert processed[0].end == "2024-01-15 00:00:00"  # frozen at batch start
    st = drv.states["events"]
    assert st.load_mode == INCREMENTAL_LOAD  # mode switch (Task.java:279-285)
    assert st.last_processed_datetime == "2024-01-15 00:00:00"
    assert rows[0][3] > 0

    # Not ready again until the cron fires (Task.java:186-189).
    assert drv.run_once() == []

    # Advance past next midnight → incremental batch covers the gap
    # exactly [last, new-now) — no overlap, no hole.
    clock.t = datetime(2024, 1, 16, 0, 0, 1)
    processed = drv.run_once()
    assert len(processed) == 1
    assert processed[0].start == "2024-01-15 00:00:00"
    assert processed[0].end == "2024-01-16 00:00:01"


def test_crash_replays_same_window(spark, tmp_path):
    """State persists mid-batch; a new driver (simulated restart) resumes
    the SAME frozen window — CO-README:512-525 gap recovery."""
    clock = FakeClock(datetime(2024, 1, 10, 0, 0, 0))
    rows: list = []

    boom: list = []

    events = load_table(spark, "/root/testdata/sf0.001", "events")

    def fetch(entity, start, end):
        return events.limit(5)

    def failing_sink(df, entity, window):
        if not boom:
            boom.append(1)
            raise RuntimeError("sink crashed mid-batch")
        rows.append((window.start, window.end))

    store = StateStore(str(tmp_path / "state.json"))
    drv = IncrementalDriver(
        store, ["events"], fetch, failing_sink, "0 0 0 * * ?",
        {"events": "2024-01-01 00:00:00"}, clock,
    )
    try:
        drv.run_once()
    except RuntimeError:
        pass
    # Watermark must NOT have advanced; batch flagged in-flight on disk.
    persisted = json.load(open(tmp_path / "state.json"))["events"]
    assert persisted["last_processed_datetime"] == "2024-01-01 00:00:00"
    assert persisted["is_processing_batch"] is True
    assert persisted["batch_end_datetime"] == "2024-01-10 00:00:00"

    # Restart: same window replayed (frozen end, not a new now()).
    clock.t = datetime(2024, 1, 10, 3, 0, 0)
    drv2 = IncrementalDriver(
        store, ["events"], fetch, failing_sink, "0 0 0 * * ?",
        {"events": "2024-01-01 00:00:00"}, clock,
    )
    processed = drv2.run_once()
    assert rows == [("2024-01-01 00:00:00", "2024-01-10 00:00:00")]
    assert processed[0].end == "2024-01-10 00:00:00"


def test_driver_and_stream_reader_agree_on_state(tmp_path):
    """The incremental driver and the streaming REST reader move the same
    EntityState through the same transitions: one window through each,
    against one server and one scripted clock, fetches the same rows and
    leaves equal per-entity state. The stream schedules no cron run, so
    next_scheduled_run is the one field allowed to differ."""
    from dataclasses import asdict

    from mk_kafka_connect_spark.sources.config import RestSourceConfig
    from mk_kafka_connect_spark.sources.fake_server import FakeRestServer
    from mk_kafka_connect_spark.sources.rest_source import (
        _fetch_rows,
        _RestStreamReader,
    )

    data = {
        e: [
            {"id": i, "mod_datetime": f"2024-01-{1 + i:02d} 00:00:00"}
            for i in range(n)
        ]
        for e, n in (("customer", 12), ("invoice", 7))
    }
    with FakeRestServer(data) as srv:
        cfg = RestSourceConfig.from_options(
            {
                "url": srv.url,
                "entities": "customer,invoice",
                "batch.size": "5",
                "initial.datetimes": "customer:2024-01-03 00:00:00,"
                "invoice:2024-01-01 00:00:00",
            }
        )
        sunk: list[tuple] = []

        def fetch(e, lo, hi):
            return list(_fetch_rows(cfg, e, lo, hi, INITIAL_LOAD, 0))

        drv = IncrementalDriver(
            StateStore(str(tmp_path / "state.json")),
            entities=cfg.entities,
            fetch=fetch,
            sink=lambda rows, e, window: sunk.extend(rows),
            initial_datetimes=cfg.initial_datetimes,
            clock=lambda: datetime(2024, 1, 10, 0, 0, 0),
        )
        assert len(drv.run_once()) == 2

        reader = _RestStreamReader(cfg)
        reader._clock = lambda: "2024-01-10 00:00:00"
        rows, offset = reader.read(reader.initialOffset())
        streamed = list(rows)

    def no_timestamp(rows):  # index 3 is the wall-clock ingestion stamp
        return sorted(r[:3] + r[4:] for r in rows)

    assert no_timestamp(streamed) == no_timestamp(sunk)
    assert len(sunk) == 7 + 7  # customer ids 2..8, invoice ids 0..6

    def comparable(state: dict) -> dict:
        return {k: v for k, v in state.items() if k != "next_scheduled_run"}

    assert {e: comparable(asdict(st)) for e, st in drv.states.items()} == {
        e: comparable(st) for e, st in offset.items()
    }
    assert offset["customer"]["load_mode"] == INCREMENTAL_LOAD
    assert offset["customer"]["last_processed_datetime"] == "2024-01-10 00:00:00"


# --- CDC record ops (A7-A10) ------------------------------------------------


def test_cdc_record_pipeline(spark):
    df = spark.createDataFrame(
        [(1, "alice", 10.0), (None, "keyless", 0.0), (2, "bob", 20.0)],
        "id long, name string, amount double",
    )
    keyed = keyed_records(df, "id")
    assert keyed.count() == 2  # keyless dropped (Task.java:396-401)
    assert json.loads(keyed.filter("id = 1").first().key) == {"id": 1}

    enriched = enrich_metadata(keyed, "customer", "INITIAL_LOAD")
    row = enriched.first()
    assert row._entity_type == "customer" and row._load_mode == "INITIAL_LOAD"
    assert row._ingestion_timestamp > 1_600_000_000_000

    routed = route_topics(enriched, "mk.chargeover")
    assert routed.first().topic == "mk.chargeover.customer"

    kafka = to_kafka_shape(routed)
    assert kafka.columns == ["topic", "key", "value"]
    val = json.loads(kafka.filter("key like '%\"id\":1%'").first().value)
    assert val["name"] == "alice" and val["_entity_type"] == "customer"


def test_compact_latest(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01", 1, "old"), (1, "2024-01-02", 2, "new"),
         (1, "2024-01-02", 1, "tie-lo"), (2, "2024-01-01", 1, "only")],
        "k long, mod string, seq long, v string",
    )
    out = compact_latest(df, ["k"], "mod", "seq")
    got = {r.k: r.v for r in out.collect()}
    assert got == {1: "new", 2: "only"}
