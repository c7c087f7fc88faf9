"""Batch ≡ streaming replay equivalence, inside Spark itself (VERDICT r6
item 3).

The registry's streaming queries are oracle-checked against DuckDB SQL; this
suite closes the other triangle side: the SAME window aggregate expressed as
a batch DataFrame plan over ``catalog.load_table`` must produce the exact
row set the bounded streaming replay produces. This pins B13 correctness to
the engine's own batch surface, independent of the driver window and of the
DuckDB dialect.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mk_kafka_connect_spark.catalog import load_table
from mk_kafka_connect_spark.functions.exact import dec2
from mk_kafka_connect_spark.streaming import windows as SW

SF_DIR = "/root/testdata/sf0.01"


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(repr(v) for v in row) for row in df.select(*cols).collect()
    )


def _assert_same(stream_df, batch_df, name):
    assert sorted(stream_df.columns) == sorted(batch_df.columns), name
    s, b = _rows(stream_df), _rows(batch_df)
    assert len(s) == len(b), f"{name}: {len(s)} streaming vs {len(b)} batch rows"
    diffs = [(x, y) for x, y in zip(s, b) if x != y][:3]
    assert not diffs, f"{name}: first diffs {diffs}"


def test_tumbling_replay_equals_batch_window(spark):
    stream = SW.run_to_memory(
        SW.tumbling_counts(SW.read_events_stream(spark, SF_DIR), "1 hour"),
        "complete",
    )
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec2("value")).cast("double").alias("total_value"),
        )
        .select(F.col("window.start").alias("wstart"), "event_type", "n", "total_value")
    )
    _assert_same(stream, batch, "tumbling")


def test_sliding_replay_equals_batch_window(spark):
    stream = SW.run_to_memory(
        SW.sliding_counts(SW.read_events_stream(spark, SF_DIR), "2 hours", "1 hour"),
        "complete",
    )
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("wstart"), "n")
    )
    _assert_same(stream, batch, "sliding")


def test_session_replay_equals_batch_session_window(spark):
    stream = SW.run_to_memory(
        SW.session_windows(SW.read_events_stream(spark, SF_DIR), "30 minutes"),
        "complete",
    )
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    _assert_same(stream, batch, "session")


def test_topic_fanout_replays_last_epoch_exactly_once(spark):
    # The registered query deletes the last epoch's commit marker and
    # restarts the stream. This pins that the crash-replay REALLY runs:
    # the sink must see the last epoch twice (at-least-once delivery),
    # and the final per-topic state must still equal the batch group-by
    # (idempotent apply => exactly-once).
    import duckdb

    from mk_kafka_connect_spark.plans.streaming import _run_topic_fanout

    log: list[int] = []
    out = _run_topic_fanout(spark, SF_DIR, epoch_log=log)
    assert log == [0, 1, 2, 3, 3], f"epoch sequence {log}"
    rows = {r.topic: r for r in out.collect()}
    orc = duckdb.sql(
        f"""SELECT 'events.' || event_type AS topic,
          count(*) AS n, count(DISTINCT user_id) AS k, sum(event_id) AS s
        FROM '{SF_DIR}/events.parquet' WHERE user_id IS NOT NULL GROUP BY 1"""
    ).fetchall()
    assert len(rows) == len(orc)
    for topic, n, k, s in orc:
        r = rows[topic]
        assert (r.n_records, r.n_keys, r.id_checksum) == (n, k, s)


def test_run_to_memory_removes_its_checkpoint(spark, tmp_path, monkeypatch):
    """The memory sink keeps the rows on the driver, so the drain's
    checkpoint dir is gone once it ends (timeout path included) while
    the returned table still reads every row."""
    import os

    import pytest

    made: list[str] = []
    real_mkdtemp = SW.tempfile.mkdtemp

    def mkdtemp(*args, **kwargs):
        made.append(real_mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(SW.tempfile, "mkdtemp", mkdtemp)
    spark.range(0, 40).write.parquet(str(tmp_path / "src"))
    stream = spark.readStream.schema("id long").parquet(str(tmp_path / "src"))

    out = SW.run_to_memory(stream, "append")
    assert len(made) == 1 and not os.path.exists(made[0])
    assert sorted(r.id for r in out.collect()) == list(range(40))

    with pytest.raises(TimeoutError):
        SW.run_to_memory(stream, "append", timeout_s=0.001)
    assert len(made) == 2 and not os.path.exists(made[1])


@pytest.mark.parametrize(
    "name",
    [
        "streaming_stream_stream_left_join",
        "streaming_stream_stream_right_join",
        "streaming_stream_stream_full_join",
        "cdc_pipeline_end_to_end",
        "kafka_file_roundtrip",
    ],
)
def test_query_leaves_no_temp_dir(spark, tmp_path, monkeypatch, name):
    """Queries that stage files in temp dirs (a watermark sentinel, a
    streaming sink and its checkpoint, Kafka-shaped files) remove them:
    once the query has run and its result has been read, nothing is
    left in the temp root."""
    import tempfile

    from mk_kafka_connect_spark.plans import QUERIES

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = QUERIES[name].fn(spark, SF_DIR)
    assert out.count() > 0
    assert sorted(p.name for p in tmp_path.iterdir()) == []
