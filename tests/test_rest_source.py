"""Source-contract tests for the paginated REST DataSource — the scenarios
from the reference's docs (CO-README:477-533): pagination, range filter
pushdown, retry/backoff, 429 handling, keyless-row drop, streaming resume."""

from __future__ import annotations

import json

import pytest

from mk_kafka_connect_spark.sources.config import RestSourceConfig, parse_entity_map
from mk_kafka_connect_spark.sources.fake_server import FakeRestServer
from mk_kafka_connect_spark.sources.rest_client import RestClient
from mk_kafka_connect_spark.sources.rest_source import register


def _rows(entity: str, n: int, start_day: int = 1):
    return [
        {
            "id": i,
            "name": f"{entity}-{i}",
            "mod_datetime": f"2024-01-{start_day + i // 10:02d} 00:00:{i % 60:02d}",
        }
        for i in range(n)
    ]


# --- client unit tests ------------------------------------------------------


def test_pagination_loop():
    with FakeRestServer({"customer": _rows("customer", 25)}) as srv:
        client = RestClient(srv.url, max_retries=0)
        pages = list(client.fetch_all("customer", "mod_datetime", None, None, limit=10))
        assert [p.total_fetched for _, p in pages] == [10, 10, 5]
        assert [o for o, _ in pages] == [0, 10, 20]
        assert not pages[-1][1].has_more


def test_range_filter_pushdown():
    with FakeRestServer({"customer": _rows("customer", 30)}) as srv:
        client = RestClient(srv.url, max_retries=0)
        page = client.fetch_page(
            "customer", "mod_datetime", "2024-01-02 00:00:00", "2024-01-03 00:00:00", 0, 100
        )
        assert page.total_fetched == 10  # ids 10..19 are on day 2
        assert all(
            "2024-01-02" <= r["mod_datetime"] < "2024-01-03" for r in page.records
        )
        # The URL carried the escaped half-open conditions:
        assert any("GTE" in r and "LT" in r for r in srv.requests)


def test_retry_with_backoff_then_success():
    sleeps = []
    with FakeRestServer({"customer": _rows("customer", 3)}) as srv:
        srv.fail_next(2)
        client = RestClient(srv.url, max_retries=3, sleeper=sleeps.append)
        page = client.fetch_page_with_retry("customer", "mod_datetime", None, None, 0, 10)
        assert page.total_fetched == 3
    # 2^0=1s then 2^1=2s (+ ≤10% jitter), Task.java:329-337
    assert len(sleeps) == 2
    assert 1.0 <= sleeps[0] <= 1.1 and 2.0 <= sleeps[1] <= 2.2


def test_rate_limit_fixed_wait():
    sleeps = []
    with FakeRestServer({"customer": _rows("customer", 3)}) as srv:
        srv.rate_limit_next(1)
        client = RestClient(srv.url, max_retries=1, sleeper=sleeps.append)
        page = client.fetch_page_with_retry("customer", "mod_datetime", None, None, 0, 10)
        assert page.total_fetched == 3
    assert sleeps == [60.0]  # Task.java:314-324


def test_retries_exhausted_raises():
    with FakeRestServer({"customer": _rows("customer", 3)}) as srv:
        srv.fail_next(5)
        client = RestClient(srv.url, max_retries=2, sleeper=lambda s: None)
        with pytest.raises(Exception):
            client.fetch_page_with_retry("customer", "mod_datetime", None, None, 0, 10)


def test_negative_max_retries_rejected():
    """Below 0 the loop would make no request and then raise a TypeError;
    the constructor refuses it instead."""
    with pytest.raises(ValueError, match="max_retries"):
        RestClient("http://127.0.0.1:9", max_retries=-1)


def test_parallel_gets_share_no_scripted_fault():
    """fail_next(1) answers exactly one of 8 concurrent GETs with a 500."""
    import threading
    import urllib.error
    import urllib.request

    with FakeRestServer({"customer": _rows("customer", 3)}) as srv:
        srv.fail_next(1)
        gate = threading.Barrier(8)
        codes: list[int] = []

        def get() -> None:
            gate.wait()
            try:
                with urllib.request.urlopen(f"{srv.url}/customer", timeout=10) as r:
                    codes.append(r.status)
            except urllib.error.HTTPError as e:
                codes.append(e.code)

        threads = [threading.Thread(target=get) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    assert sorted(codes) == [200] * 7 + [500]


def test_connection_probe():
    with FakeRestServer({"customer": _rows("customer", 1)}) as srv:
        assert RestClient(srv.url).test_connection()
    assert not RestClient("http://127.0.0.1:9", max_retries=0).test_connection()


# --- config parity (A18) ----------------------------------------------------


def test_entity_map_splits_on_first_colon():
    m = parse_entity_map("customer:2024-01-01 00:00:00,invoice:2024-02-01 00:00:00")
    assert m["customer"] == "2024-01-01 00:00:00"  # Config.java:241-267


def test_batch_size_range_validation():
    with pytest.raises(ValueError):
        RestSourceConfig(base_url="x", batch_size=501)  # Config.java:53-58
    with pytest.raises(ValueError):
        RestSourceConfig(base_url="x", batch_size=0)


def test_initial_datetime_validation():
    with pytest.raises(ValueError):
        RestSourceConfig(base_url="x", initial_datetimes={"customer": "01/02/2024"})


# --- DataSource end-to-end through spark.read -------------------------------


def test_batch_datasource_reads_entities(spark):
    data = {
        "customer": _rows("customer", 12),
        "invoice": _rows("invoice", 5),
    }
    data["customer"][3] = {"name": "keyless", "mod_datetime": "2024-01-01 00:00:03"}
    with FakeRestServer(data) as srv:
        register(spark)
        df = (
            spark.read.format("paginated_rest")
            .option("url", srv.url)
            .option("entities", "customer,invoice")
            .option("batch.size", "5")
            .load()
        )
        rows = df.collect()
    by_entity = {}
    for r in rows:
        by_entity.setdefault(r.entity, []).append(r)
    assert len(by_entity["customer"]) == 11  # keyless row dropped (Task.java:396-401)
    assert len(by_entity["invoice"]) == 5
    sample = by_entity["invoice"][0]
    assert json.loads(sample.key) == {"id": json.loads(sample.payload)["id"]}
    assert sample._load_mode == "INITIAL_LOAD"
    assert sample._ingestion_timestamp > 0


def _stream_reader(url: str, clock_values: list[str]):
    """_RestStreamReader with a scripted clock (pops one value per call)."""
    from mk_kafka_connect_spark.sources.rest_source import _RestStreamReader

    cfg = RestSourceConfig.from_options(
        {
            "url": url,
            "entities": "customer",
            "batch.size": "5",
            "initial.datetimes": "customer:2024-01-01 00:00:00",
        }
    )
    r = _RestStreamReader(cfg)
    vals = list(clock_values)
    # initialOffset() also reads the clock; keep returning the last value
    # once the script is exhausted.
    r._clock = lambda: vals.pop(0) if len(vals) > 1 else vals[0]
    return r


def _row_set(rows):
    # _ingestion_timestamp (index 3) is a wall-clock stamp — exclude it.
    return {(r[0], r[1], r[2], r[4]) for r in rows}


def test_replay_between_offsets_matches_original_batch():
    """readBetweenOffsets must bound the replay at END's frozen watermark:
    rows that arrived after `end` belong to the NEXT batch and must not be
    emitted twice (the deterministic-replay contract of
    SimpleDataSourceStreamReader)."""
    data = {"customer": _rows("customer", 8)}  # days 1..x, secs 0..7
    with FakeRestServer(data) as srv:
        reader = _stream_reader(srv.url, ["2024-02-01 00:00:00"])
        o0 = reader.initialOffset()
        it, o1 = reader.read(o0)
        batch1 = list(it)
        assert len(batch1) == 8
        assert o1["customer"]["last_processed_datetime"] == "2024-02-01 00:00:00"

        # New rows arrive AFTER the frozen bound — a buggy replay that
        # re-freezes "now" would pick these up.
        srv.data["customer"] = data["customer"] + [
            {"id": 100, "name": "late", "mod_datetime": "2024-02-15 00:00:00"}
        ]

        replay = list(reader.readBetweenOffsets(o0, o1))
        assert _row_set(replay) == _row_set(batch1)

        # The late row belongs to the next live batch exactly once.
        it2, o2 = _stream_reader(srv.url, ["2024-03-01 00:00:00"]).read(o1)
        batch2 = list(it2)
        assert [json.loads(r[2])["id"] for r in batch2] == [100]
        assert o2["customer"]["load_mode"] == "INCREMENTAL_LOAD"


def test_watermark_monotonic_under_clock_stepback():
    """A driver clock that steps backwards (NTP correction, VM migration)
    must not regress the watermark: a regressed watermark would re-fetch —
    and re-emit — the window it already processed."""
    data = {"customer": _rows("customer", 8)}
    with FakeRestServer(data) as srv:
        reader = _stream_reader(srv.url, ["2024-02-01 00:00:00"])
        o0 = reader.initialOffset()
        it, o1 = reader.read(o0)
        assert len(list(it)) == 8
        assert o1["customer"]["last_processed_datetime"] == "2024-02-01 00:00:00"

        # Clock steps BACK a month. The batch window is empty (hi <= lo)
        # and the watermark must hold at the high-water mark.
        stepped = _stream_reader(srv.url, ["2024-01-15 00:00:00"])
        it2, o2 = stepped.read(o1)
        assert list(it2) == []
        assert o2["customer"]["last_processed_datetime"] == "2024-02-01 00:00:00"

        # Once the clock recovers past the watermark, ingestion resumes
        # from the held mark with no duplicates.
        srv.data["customer"] = data["customer"] + [
            {"id": 200, "name": "late", "mod_datetime": "2024-02-10 00:00:00"}
        ]
        it3, o3 = _stream_reader(srv.url, ["2024-03-01 00:00:00"]).read(o2)
        assert [json.loads(r[2])["id"] for r in list(it3)] == [200]
        assert o3["customer"]["last_processed_datetime"] == "2024-03-01 00:00:00"


def test_replay_with_equal_offsets_is_empty():
    data = {"customer": _rows("customer", 4)}
    with FakeRestServer(data) as srv:
        reader = _stream_reader(srv.url, ["2024-02-01 00:00:00"])
        o0 = reader.initialOffset()
        _, o1 = reader.read(o0)
        assert list(reader.readBetweenOffsets(o1, o1)) == []


def test_streaming_datasource_microbatch(spark, tmp_path):
    data = {"customer": _rows("customer", 8)}
    with FakeRestServer(data) as srv:
        register(spark)
        stream = (
            spark.readStream.format("paginated_rest")
            .option("url", srv.url)
            .option("entities", "customer")
            .option("batch.size", "5")
            .option("initial.datetimes", "customer:2024-01-01 00:00:00")
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("rest_stream")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM rest_stream").collect()
    assert len(got) == 8
    assert all(r._load_mode == "INITIAL_LOAD" for r in got)


def test_datasource_works_without_pythonpath():
    """The round driver (and any spark-submit without --py-files) builds
    its own SparkSession with no PYTHONPATH export, so its Python workers
    and the STREAMING source runner cannot import this package: every
    package module their code reaches must be pickled by value through
    PySpark's own cloudpickle. Covers both registered DataSources (the
    sink through rest_roundtrip_events) and the three kernels whose
    module-level functions run in workers (bloom, multimodal, stateful),
    in a clean subprocess; a module missing from a by-value registration
    dies with a worker-side ModuleNotFoundError."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import os, sys\n"
        "os.environ.pop('PYTHONPATH', None)\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        "         .config('spark.sql.shuffle.partitions', '2')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "import __spark_entry__ as E\n"
        "qs = E.queries()\n"
        "sf = '/root/testdata/sf0.001'\n"
        "n1 = qs['rest_scan_events'](spark, sf).count()\n"
        "n2 = qs['rest_stream_events'](spark, sf).count()\n"
        "assert n1 == n2 > 0, (n1, n2)\n"
        "for name in ('rest_roundtrip_events', 'join_bloom_prefilter',\n"
        "             'multimodal_decode', 'streaming_stateful_running'):\n"
        "    assert qs[name](spark, sf).collect(), name\n"
        "print('CLEAN_ENV_OK', n1)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd="/tmp",
    )
    assert "CLEAN_ENV_OK" in out.stdout, (out.stdout[-500:], out.stderr[-1500:])


def test_register_is_idempotent_per_session(spark, monkeypatch):
    # Every rest_* query calls register(); re-registering the same name
    # makes DataSourceManager log a 'replaced a previously registered
    # data source' warning per call, so repeats must skip the JVM call.
    from pyspark.sql.datasource import DataSourceRegistration

    from mk_kafka_connect_spark.sources import rest_sink, rest_source

    calls = []
    orig = DataSourceRegistration.register
    monkeypatch.setattr(
        DataSourceRegistration,
        "register",
        lambda self, cls: calls.append(cls.name()) or orig(self, cls),
    )
    session = spark.newSession()
    for _ in range(3):
        rest_source.register(session)
        rest_sink.register_sink(session)
    assert calls == ["paginated_rest", "rest_sink"]


# --- Catalyst filter pushdown (Spark 4.1 pushFilters, VERDICT r15 #2) --------


def test_pushfilters_unit_contract():
    """Entity filters are consumed; datetime filters tighten the window
    but are re-returned by reference (partial pushdown keeps Spark's
    NULL semantics authoritative)."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        LessThan,
    )

    from mk_kafka_connect_spark.sources.rest_source import _RestBatchReader

    cfg = RestSourceConfig.from_options(
        {"url": "http://x", "entities": "customer,invoice,order"}
    )
    reader = _RestBatchReader(cfg, {"end_datetime": "2024-06-01 00:00:00"})
    filters = [
        EqualTo(("entity",), "customer"),
        In(("entity",), ("customer", "invoice")),
        GreaterThanOrEqual(("_event_datetime",), "2024-01-02 00:00:00"),
        GreaterThan(("_event_datetime",), "2024-01-02 12:00:00"),
        LessThan(("_event_datetime",), "2024-01-03 00:00:00"),
        IsNotNull(("payload",)),
    ]
    remaining = list(reader.pushFilters(filters))
    # entity filters consumed; every other filter returned BY REFERENCE
    assert remaining == filters[2:]
    assert all(any(r is f for f in filters) for r in remaining)
    parts = reader.partitions()
    assert [p.entity for p in parts] == ["customer"]
    # GT tightens like GTE (strict bound re-applied Spark-side)
    assert parts[0].start == "2024-01-02 12:00:00"
    # pushed end narrows the option-provided end
    assert parts[0].end == "2024-01-03 00:00:00"


def test_pushfilters_never_widens_configured_window():
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from mk_kafka_connect_spark.sources.rest_source import _RestBatchReader

    cfg = RestSourceConfig.from_options(
        {
            "url": "http://x",
            "entities": "customer",
            "initial.datetimes": "customer:2024-03-01 00:00:00",
        }
    )
    reader = _RestBatchReader(cfg, {"end_datetime": "2024-04-01 00:00:00"})
    # User filter is WIDER than the configured window on both sides:
    # the fetch must stay at the configured bounds.
    list(
        reader.pushFilters(
            [
                GreaterThanOrEqual(("_event_datetime",), "2024-01-01 00:00:00"),
                LessThan(("_event_datetime",), "2024-12-01 00:00:00"),
            ]
        )
    )
    (p,) = reader.partitions()
    assert p.start == "2024-03-01 00:00:00"
    assert p.end == "2024-04-01 00:00:00"


def test_catalyst_filter_pushdown_narrows_fetch(spark):
    """A user-written .filter() on the relation reaches the HTTP fetch:
    the server log shows the narrowed where= window and the pruned
    entity is never requested (planner parity with ApiClient.java:91-112)."""
    import urllib.parse

    from pyspark.sql import functions as F

    data = {"customer": _rows("customer", 30), "invoice": _rows("invoice", 5)}
    # Row with NULL datetime: server-side lexicographic where would keep
    # it; Spark's re-applied filter must drop it.
    data["customer"].append({"id": 999, "name": "no-dt"})
    with FakeRestServer(data) as srv:
        register(spark)
        df = (
            spark.read.format("paginated_rest")
            .option("url", srv.url)
            .option("entities", "customer,invoice")
            .option("batch.size", "100")
            .load()
            .filter(
                (F.col("_event_datetime") >= "2024-01-02 00:00:00")
                & (F.col("_event_datetime") < "2024-01-03 00:00:00")
                & (F.col("entity") == "customer")
            )
        )
        rows = df.collect()
        reqs = [urllib.parse.unquote(r) for r in srv.requests]
    assert len(rows) == 10  # exactly the day-2 ids 10..19; NULL-dt row dropped
    assert all(r.entity == "customer" for r in rows)
    assert all(
        "2024-01-02 00:00:00" <= r._event_datetime < "2024-01-03 00:00:00"
        for r in rows
    )
    # entity pruning: the invoice partition was never planned or fetched
    assert not any("/invoice" in r for r in reqs)
    # the user filter's GTE/LT window reached the URL
    assert any(
        "GTE:2024-01-02 00" in r and "LT:2024-01-03 00" in r for r in reqs
    ), reqs


def test_register_enables_pushdown_conf(spark):
    register(spark)
    assert spark.conf.get("spark.sql.python.filterPushdown.enabled") == "true"


def test_fields_projection_trims_payload_at_server(spark):
    """Option-based projection pushdown (Config.java:269-289 /
    CO-README:150-176): entity.query.params carries fields= verbatim to
    the fetch URL and the server trims every payload to the requested
    columns. (Catalyst-side column pruning is NOT expressible in the
    pyspark 4.1 Python DataSource API — DataSourceReader has no
    pruneColumns hook — so this option is the supported projection
    path; see COVERAGE.md.)"""
    import urllib.parse

    data = {"customer": _rows("customer", 8)}
    with FakeRestServer(data) as srv:
        register(spark)
        df = (
            spark.read.format("paginated_rest")
            .option("url", srv.url)
            .option("entities", "customer")
            # %2C: the comma must be URL-encoded because the entity-map
            # option format splits entries on bare commas.
            .option("entity.query.params", "customer:fields=id%2Cmod_datetime")
            .load()
        )
        rows = df.collect()
        reqs = [urllib.parse.unquote(r) for r in srv.requests]
    assert len(rows) == 8
    for r in rows:
        assert set(json.loads(r.payload)) == {"id", "mod_datetime"}
        assert r._event_datetime is not None  # datetime survives the trim
    assert any("fields=id,mod_datetime" in q for q in reqs), reqs
