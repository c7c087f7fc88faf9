"""REST sink contract tests: batched POSTs, retry/backoff/429 parity with
the source client, per-task throttling, end-to-end Spark write."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from mk_kafka_connect_spark.sources.fake_server import FakeRestServer
from mk_kafka_connect_spark.sources.rest_sink import _RestSinkWriter, register_sink


def test_rest_sink_end_to_end_spark_write(spark):
    with FakeRestServer({}) as srv:
        register_sink(spark)
        df = spark.range(0, 23).selectExpr("id", "CAST(id * 2 AS STRING) AS name")
        (
            df.repartition(2)
            .write.format("rest_sink")
            .option("url", srv.url)
            .option("entity", "customer")
            .option("batch.size", "5")
            .mode("append")
            .save()
        )
        posted = srv.posted["customer"]
        assert sorted(int(r["id"]) for r in posted) == list(range(23))
        posts = [r for r in srv.requests if r.startswith("POST")]
        # 23 rows over 2 partitions at batch.size=5 → 5 or 6 requests.
        assert 5 <= len(posts) <= 6


def test_register_sink_on_a_second_session(spark):
    """A spark.newSession() registers the sink too (the JVM checks the
    name against the active session's sources) and writes through it."""
    register_sink(spark)
    other = spark.newSession()
    register_sink(other)
    with FakeRestServer({}) as srv:
        (
            other.range(0, 4)
            .write.format("rest_sink")
            .option("url", srv.url)
            .option("entity", "second")
            .mode("append")
            .save()
        )
        posted = srv.posted["second"]
    assert sorted(int(r["id"]) for r in posted) == [0, 1, 2, 3]


def test_rest_sink_retries_500_with_backoff():
    with FakeRestServer({}) as srv:
        w = _RestSinkWriter({"url": srv.url, "entity": "e"})
        sleeps: list[float] = []
        w.client.sleep = sleeps.append
        srv.fail_next(2)
        w.client.post("e", [])
        assert len(sleeps) == 2
        assert 1.0 <= sleeps[0] <= 1.1  # 2^0 + 10% jitter
        assert 2.0 <= sleeps[1] <= 2.2  # 2^1 + 10% jitter


def test_rest_sink_429_fixed_wait():
    with FakeRestServer({}) as srv:
        w = _RestSinkWriter({"url": srv.url, "entity": "e"})
        sleeps: list[float] = []
        w.client.sleep = sleeps.append
        srv.rate_limit_next(1)
        w.client.post("e", [])
        assert sleeps == [60.0]  # Task.java:318 fixed rate-limit wait


def test_rest_sink_gives_up_after_max_retries():
    with FakeRestServer({}) as srv:
        w = _RestSinkWriter({"url": srv.url, "entity": "e", "max.retries": "2"})
        w.client.sleep = lambda s: None
        srv.fail_next(10)
        with pytest.raises(Exception):
            w.client.post("e", [])
        # 1 try + 2 retries
        assert len([r for r in srv.requests if r.startswith("POST")]) == 3


def test_rest_sink_throttles_to_requests_per_second():
    with FakeRestServer({}) as srv:
        w = _RestSinkWriter(
            {"url": srv.url, "entity": "e", "batch.size": "5", "requests.per.second": "2"}
        )
        sleeps: list[float] = []
        w.client.sleep = sleeps.append
        w.clock = lambda: 0.0  # frozen clock: every wait is visible as a sleep
        msg = w.write(iter([Row(id=i) for i in range(12)]))
        assert msg.n_records == 12 and msg.n_requests == 3
        assert sleeps == [0.5, 1.0]  # 2 req/s → 0.5 s spacing from t=0


def test_rest_sink_batch_size_validation():
    with pytest.raises(ValueError):
        _RestSinkWriter({"url": "http://x", "batch.size": "0"})
    with pytest.raises(ValueError):
        _RestSinkWriter({"url": "http://x", "batch.size": "501"})
    with pytest.raises(ValueError):
        _RestSinkWriter({})


def test_rest_sink_rejects_negative_max_retries():
    """A negative ``max.retries`` fails when the writer is built, not
    with a TypeError after sending nothing."""
    with pytest.raises(ValueError, match="max_retries"):
        _RestSinkWriter({"url": "http://x", "max.retries": "-1"})


# --- streaming flavor (DataSourceStreamWriter) -------------------------------


def test_stream_sink_commit_posts_epoch_marker():
    from mk_kafka_connect_spark.sources.rest_sink import (
        _RestStreamSinkWriter,
        _SinkCommit,
    )

    with FakeRestServer({}) as srv:
        w = _RestStreamSinkWriter({"url": srv.url, "entity": "ev"})
        w.commit([_SinkCommit(3, 1), None, _SinkCommit(7, 2)], batchId=5)
        markers = srv.posted["ev__commits"]
    assert markers == [{"batch_id": 5, "n_records": 10, "n_requests": 3}]


def test_stream_sink_commit_marker_retried_after_500():
    """A commit marker that meets one HTTP 500 is retried and lands
    exactly once."""
    from mk_kafka_connect_spark.sources.rest_sink import (
        _RestStreamSinkWriter,
        _SinkCommit,
    )

    with FakeRestServer({}) as srv:
        w = _RestStreamSinkWriter({"url": srv.url, "entity": "ev"})
        sleeps: list[float] = []
        w.client.sleep = sleeps.append
        srv.fail_next(1)
        w.commit([_SinkCommit(4, 1)], batchId=2)
        markers = srv.posted["ev__commits"]
        posts = [r for r in srv.requests if r.startswith("POST")]
    assert markers == [{"batch_id": 2, "n_records": 4, "n_requests": 1}]
    assert posts == ["POST /api/ev__commits"] * 2
    assert len(sleeps) == 1 and 1.0 <= sleeps[0] <= 1.1


def test_stream_sink_abort_posts_nothing():
    from mk_kafka_connect_spark.sources.rest_sink import (
        _RestStreamSinkWriter,
        _SinkCommit,
    )

    with FakeRestServer({}) as srv:
        w = _RestStreamSinkWriter({"url": srv.url, "entity": "ev"})
        w.abort([_SinkCommit(3, 1)], batchId=9)
        posted = dict(srv.posted)
        reqs = list(srv.requests)
    assert posted == {} and reqs == []


def test_stream_sink_end_to_end_microbatches(spark):
    """availableNow drain over a 3-file source: every row POSTed exactly
    once across epochs, one marker per non-empty epoch, batch ids unique."""
    import shutil
    import tempfile

    register_sink(spark)
    root = tempfile.mkdtemp(prefix="stream_sink_test_")
    try:
        spark.createDataFrame(
            [Row(id=str(i), name=f"r{i}") for i in range(30)]
        ).repartition(3).write.mode("overwrite").parquet(f"{root}/src")
        stream = (
            spark.readStream.schema("id string, name string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/src")
        )
        with FakeRestServer({}) as srv:
            q = (
                stream.writeStream.format("rest_sink")
                .option("url", srv.url)
                .option("entity", "cust")
                .option("batch.size", "7")
                .option("checkpointLocation", f"{root}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120)
            rows = list(srv.posted.get("cust", []))
            markers = list(srv.posted.get("cust__commits", []))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert sorted(r["id"] for r in rows) == sorted(str(i) for i in range(30))
    assert sum(m["n_records"] for m in markers) == 30
    ids = [m["batch_id"] for m in markers]
    assert len(set(ids)) == len(ids) and len(markers) >= 2
