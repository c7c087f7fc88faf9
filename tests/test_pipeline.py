"""End-to-end pipeline test: fake REST API → paginated_rest source →
transform chain → routed records → partitioned parquet, batch AND
streaming — the full reference deployment in one config object."""

from __future__ import annotations

import json
import urllib.parse
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from mk_kafka_connect_spark.pipeline import CdcPipeline
from mk_kafka_connect_spark.sources.fake_server import FakeRestServer


def _rows(entity: str, n: int):
    return [
        {
            "id": i,
            "name": f"{entity}-{i}",
            "amount": i * 1.5,
            "mod_datetime": f"2024-01-01 00:00:{i % 60:02d}",
        }
        for i in range(n)
    ]


def _pipeline(url: str) -> CdcPipeline:
    return CdcPipeline(
        source_options={
            "url": url,
            "entities": "customer,invoice",
            "batch.size": "7",
        },
        transform_chain=[
            # SMT-chain parity: stringify then rename, in config order.
            {"name": "string_cast", "fields": ["_ingestion_timestamp"]},
            {"name": "rename", "mapping": {"payload": "value"}},
        ],
        topic_prefix="mk.chargeover",
    )


def test_batch_pipeline_to_parquet(spark, tmp_path):
    with FakeRestServer({"customer": _rows("customer", 17), "invoice": _rows("invoice", 3)}) as srv:
        p = _pipeline(srv.url)
        total = p.run_batch_to_parquet(spark, str(tmp_path / "out"))
    assert total == 20
    back = spark.read.parquet(str(tmp_path / "out"))
    assert set(r._entity_type for r in back.select("_entity_type").distinct().collect()) == {
        "customer", "invoice",
    }
    row = back.filter("_entity_type = 'customer'").first()
    assert row.topic == "mk.chargeover.customer"
    assert json.loads(row.value)["name"].startswith("customer-")
    # string_cast SMT applied: epoch-ms long became its JSON string form
    assert isinstance(row._ingestion_timestamp, str)


def test_stream_pipeline_to_parquet(spark, tmp_path):
    with FakeRestServer({"customer": _rows("customer", 9), "invoice": _rows("invoice", 2)}) as srv:
        p = CdcPipeline(
            source_options={
                "url": srv.url,
                "entities": "customer,invoice",
                "batch.size": "4",
                "initial.datetimes": "customer:2024-01-01 00:00:00,invoice:2024-01-01 00:00:00",
            },
            topic_prefix="mk.chargeover",
        )
        p.run_stream_to_parquet(
            spark, str(tmp_path / "out"), str(tmp_path / "ckpt"), timeout_s=120
        )
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 11
    assert back.filter(F.col("topic").startswith("mk.chargeover.")).count() == 11


def test_kafka_shape(spark):
    with FakeRestServer({"customer": _rows("customer", 2), "invoice": []}) as srv:
        p = _pipeline(srv.url)
        shaped = p.kafka_shaped(spark)
        rows = shaped.collect()
    assert shaped.columns == ["topic", "key", "value"]
    assert all(json.loads(r.value)["_entity_type"] == "customer" for r in rows)


def test_kafka_files_roundtrip_byte_parity(spark, tmp_path):
    """Broker-less end-to-end: REST → CDC envelope → to_kafka_shape →
    binary topic-partitioned files → Kafka-source-shaped read →
    decode_json_topic. Asserts the BYTE contract of
    ChargeOverSourceTask.java:434-443: key = JSON {id_field: id} bytes,
    value = full-record JSON bytes, topic = {prefix}.{entity}."""
    from mk_kafka_connect_spark.sources.kafka import (
        decode_json_topic,
        read_kafka_files,
        write_kafka_files,
    )

    def _mask_ts(value_bytes: bytes) -> bytes:
        # _ingestion_timestamp is stamped per evaluation (wall clock); mask
        # it so the two materializations compare on every OTHER byte.
        d = json.loads(value_bytes)
        d["_ingestion_timestamp"] = "X"
        return json.dumps(d, sort_keys=True).encode()

    with FakeRestServer({"customer": _rows("customer", 3)}) as srv:
        p = _pipeline(srv.url)
        shaped = p.kafka_shaped(spark)
        original = {
            bytes(r.key, "utf-8"): _mask_ts(bytes(r.value, "utf-8"))
            for r in shaped.collect()
        }
        write_kafka_files(shaped, str(tmp_path / "topics"))

    back = read_kafka_files(spark, str(tmp_path / "topics"))
    rows = back.collect()
    assert len(rows) == 3
    assert {r.topic for r in rows} == {"mk.chargeover.customer"}
    # keys byte-exact; values byte-exact modulo the wall-clock stamp:
    assert {bytes(r.key): _mask_ts(bytes(r.value)) for r in rows} == original

    decoded = decode_json_topic(
        back, "entity STRING, value STRING, _entity_type STRING, _load_mode STRING"
    )
    got = decoded.collect()
    # the schemaless record payload is the nested JSON string (the
    # reference's Map<String,Object> posture):
    assert {json.loads(r.value)["id"] for r in got} == {0, 1, 2}
    assert all(r._entity_type == "customer" for r in got)
    assert all(r._load_mode == "INITIAL_LOAD" for r in got)
    # raw value survives for late-bound access:
    assert all(
        json.loads(json.loads(r.raw_value)["value"])["name"].startswith("customer-")
        for r in got
    )

    # topic filter prunes to the same rows
    assert read_kafka_files(
        spark, str(tmp_path / "topics"), topic="mk.chargeover.customer"
    ).count() == 3


def test_read_batch_reuses_relation(spark):
    with FakeRestServer({"customer": _rows("customer", 2), "invoice": []}) as srv:
        p = _pipeline(srv.url)
        first = p.read_batch(spark)
        assert p.read_batch(spark) is first


def test_read_batch_rebuilds_on_session_or_config_change(spark):
    with FakeRestServer({"customer": _rows("customer", 2), "invoice": []}) as srv:
        p = _pipeline(srv.url)
        seen = [p.read_batch(spark)]

        def rebuilt():
            df = p.read_batch(spark)
            assert all(df is not old for old in seen)
            assert p.read_batch(spark) is df  # and reused again after
            seen.append(df)
            return df

        p.source_options["batch.size"] = "3"  # in-place edit
        rebuilt()
        p.source_options = {**p.source_options, "entities": "customer"}
        rebuilt()
        p.transform_chain.append({"name": "drop_fields", "fields": ["_load_mode"]})
        assert "_load_mode" not in rebuilt().columns
        p.topic_prefix = "other"
        assert {r.topic for r in rebuilt().select("topic").collect()} == {"other.customer"}

        other = spark.newSession()
        df = p.read_batch(other)
        assert all(df is not old for old in seen)
        assert df.sparkSession is other
        assert p.read_batch(other) is df


def _where(op: str, value: str) -> str:
    # The fetch URL escapes the colons of a datetime value (ApiClient.java:96-112).
    return f"mod_datetime:{op}:" + value.replace(":", "\\:")


def test_reused_relation_fetches_each_window_fresh(spark):
    """The reused relation holds no rows: a window read after the server
    gained rows returns them, and its fetch carries that window's own
    pushed bounds and touches only the filtered entity."""
    def day(d: int, i: int) -> dict:
        return {"id": i, "mod_datetime": f"2024-01-0{d} 00:00:{i:02d}"}

    data = {"customer": [day(1, i) for i in range(5)], "invoice": [day(1, 50)]}
    with FakeRestServer(data) as srv:
        p = CdcPipeline(source_options={"url": srv.url, "entities": "customer,invoice"})

        def window(start: str, end: str) -> tuple[set[int], list[str]]:
            n0 = len(srv.requests)
            rows = (
                p.read_batch(spark)
                .filter(
                    (F.col("entity") == "customer")
                    & (F.col("_event_datetime") >= start)
                    & (F.col("_event_datetime") < end)
                )
                .collect()
            )
            reqs = [urllib.parse.unquote(r) for r in srv.requests[n0:]]
            return {json.loads(r.payload)["id"] for r in rows}, reqs

        relation = p.read_batch(spark)
        ids, _ = window("2024-01-01 00:00:00", "2024-01-02 00:00:00")
        assert ids == set(range(5))

        data["customer"] += [day(2, i) for i in range(10, 13)]
        data["invoice"].append(day(2, 60))
        ids, reqs = window("2024-01-02 00:00:00", "2024-01-03 00:00:00")
        assert p.read_batch(spark) is relation
    assert ids == {10, 11, 12}
    assert reqs and all("/customer?" in r for r in reqs), reqs
    assert all(
        _where("GTE", "2024-01-02 00:00:00") in r and _where("LT", "2024-01-03 00:00:00") in r
        for r in reqs
    ), reqs


def test_incremental_driver_over_read_batch(spark, tmp_path):
    """The perfbench ``cdc_incremental`` shape: ``IncrementalDriver``
    windows fetched through one reused ``read_batch`` relation into an
    overwrite-by-window parquet sink. 2 polls x 2 entities land every
    record exactly once and leave every watermark at the last window end."""
    from mk_kafka_connect_spark.streaming.incremental import IncrementalDriver, StateStore

    t0, period, fmt = datetime(2024, 1, 1), timedelta(hours=1), "%Y-%m-%d %H:%M:%S"
    entities = ["customer", "invoice"]
    data = {
        e: [
            {"id": 100 * k + i, "mod_datetime": (t0 + timedelta(minutes=7 * i)).strftime(fmt)}
            for i in range(17)  # 17 x 7 min spans both hourly windows
        ]
        for k, e in enumerate(entities)
    }
    out = str(tmp_path / "sink")
    now = {"t": t0}
    relations = set()
    with FakeRestServer(data) as srv:
        p = CdcPipeline(
            source_options={"url": srv.url, "entities": ",".join(entities), "batch.size": "5"},
            transform_chain=[{"name": "string_cast", "fields": ["_ingestion_timestamp"]}],
        )

        def fetch(entity, start, end):
            df = p.read_batch(spark)
            relations.add(id(df))
            return df.filter(
                (F.col("entity") == entity)
                & (F.col("_event_datetime") >= start)
                & (F.col("_event_datetime") < end)
            )

        def sink(df, entity, window):
            (
                df.withColumn("wstart", F.lit(window.start))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("entity", "wstart")
                .parquet(out)
            )

        driver = IncrementalDriver(
            StateStore(str(tmp_path / "state.json")),
            entities,
            fetch,
            sink,
            cron="0 0 * * * ?",
            initial_datetimes={e: t0.strftime(fmt) for e in entities},
            clock=lambda: now["t"],
        )
        for k in (1, 2):
            now["t"] = t0 + k * period
            assert len(driver.run_once()) == len(entities)

    assert len(relations) == 1
    back = spark.read.parquet(out).select("entity", "key").collect()
    for e in entities:
        got = sorted(json.loads(r.key)["id"] for r in back if r.entity == e)
        assert got == sorted(r["id"] for r in data[e])
    with open(tmp_path / "state.json") as f:
        state = json.load(f)
    last_end = (t0 + 2 * period).strftime(fmt)
    assert {e: state[e]["last_processed_datetime"] for e in entities} == dict.fromkeys(
        entities, last_end
    )

