"""Structured Streaming operators (SURVEY.md §2.B B13): bounded-replay
helpers that run a streaming query over the test fixtures and return the
result table — the engine's proof that its streaming surface computes the
same answer as the batch surface (replay-equivalence, the testing strategy
SURVEY.md §5 declares).

The reference's streaming story is its micro-batch CDC loop
(``ChargeOverSourceTask.java:135-291``); here that generalizes to real
event-time windows + watermarks. ``Trigger.AvailableNow`` drains the
bounded fixture in micro-batches through the SAME code path an unbounded
Kafka-fed deployment would run.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import probe_events_ts
from ..functions.exact import dec2

__all__ = [
    "read_events_stream",
    "run_to_memory",
    "tumbling_counts",
    "sliding_counts",
    "session_windows",
    "streaming_dedup",
    "stream_static_join",
    "stream_stream_attribution",
    "read_events_stream_with_horizon_sentinel",
]

def _events_schema(ts_field: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_field),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture.

    File streams require a user-declared schema, and the fixture's ``ts``
    physical type has changed across driver revisions (TIMESTAMP(NANOS),
    then naive ``timestamp[us]``). Declaring the wrong type is a SILENT
    wrong answer (µs epochs divided as if nanos collapse into 1970), so
    branch on ``catalog.probe_events_ts`` (pyarrow footer probe with a
    magnitude check on raw-int64 ts — no Spark job) and declare the schema
    that matches the bytes on disk; every variant normalizes to session-UTC
    TimestampType — the same instants as the batch catalog loader.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # oracle parity
    kind = probe_events_ts(os.path.join(sf_dir, "events.parquet"))
    if kind == "nanos":
        # Nanos epoch (read as long via the legacy conf). Integer division
        # keeps full precision (ns epoch ~1.7e18 exceeds double's 2^53).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = (
            spark.readStream.schema(_events_schema(T.LongType()))
            # File streaming sources require a directory; select just the
            # events table out of the fixture dir with a glob.
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    # "us_utc" / "us_naive": µs timestamps, with/without isAdjustedToUTC.
    ts_type = T.TimestampType() if kind == "us_utc" else T.TimestampNTZType()
    raw = (
        spark.readStream.schema(_events_schema(ts_type))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def run_to_memory(
    result: DataFrame, output_mode: str = "complete", timeout_s: int = 300
) -> DataFrame:
    """Drain a bounded stream with Trigger.AvailableNow into a memory sink
    and return the final table. Unique query name + throwaway checkpoint
    per run (the driver may call the same query repeatedly); the memory
    sink keeps the rows on the driver, so the checkpoint is removed once
    the drain ends, on the timeout path too."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            try:
                q.stop()
            finally:
                raise TimeoutError(
                    f"streaming drain {name} did not finish within {timeout_s}s;"
                    " the memory sink is incomplete"
                )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return result.sparkSession.table(name)


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling event-time window aggregate with a watermark — the
    streaming generalization of the reference's batch windows (late data
    within the watermark still lands in its window; the reference instead
    re-covers ranges on the next poll, CO-README:512-525)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", width), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec2("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("wstart"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(events: DataFrame, width: str = "2 hours", slide: str = "1 hour") -> DataFrame:
    """Sliding window (each event lands in width/slide windows)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", width, slide))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("wstart"), "n")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Data-driven session windows per user (session_window merges events
    within ``gap`` of each other — identical semantics to the batch
    lag/cumsum sessionization in plans/relational.py)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on the record key — state-backed
    dropDuplicates with a watermark bound on state size (B13; the
    streaming form of the compaction the reference's keys exist for)."""
    return events.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])


def stream_stream_attribution(
    views: DataFrame, clicks: DataFrame, horizon: str = "6 hours", how: str = "inner"
) -> DataFrame:
    """Stream ⋈ stream attribution with event-time bounds (B13): match
    each click to every view by the same user within the preceding
    ``horizon``. BOTH sides are unbounded, so this is the genuinely
    stateful join — each side buffers rows in state, and the watermark
    plus the time-range predicate (``c.ts ∈ (v.ts, v.ts + horizon]``)
    give Spark the bound it needs to evict matched-out state instead of
    keeping both streams forever. The gap is emitted in exact
    microseconds (long), never a float duration.

    ``how`` is Spark's join type, and every mode of the stream-stream
    matrix is supported:

    * ``inner``: matched pairs only, emitted as they match.
    * ``leftOuter`` / ``rightOuter`` / ``fullOuter``: unconverted views
      and/or view-less clicks (the organic conversions) also surface as
      null-padded rows, but only once the OTHER stream's watermark proves
      no match can still arrive — correctness rests on state EXPIRY, not
      just lookup. Feed a bounded replay through
      ``read_events_stream_with_horizon_sentinel`` so the tail's null
      rows actually flush (see there).
    * ``leftSemi``: the existence test — each view at most once, as
      ``(user_id, view_id, v_ts)``, as soon as its first match is seen;
      an unmatched view is dropped at state expiry.

    ``user_id`` is ``coalesce(v_user, c_user)``: the join key makes the
    two equal on a matched row, and an unmatched row has only one side.
    """
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    ).withWatermark("v_ts", "1 hour")
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", "1 hour")
    joined = v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {horizon}")),
        how,
    )
    if how == "leftSemi":
        return joined.select(F.col("v_user").alias("user_id"), "view_id", "v_ts")
    return joined.select(
        F.coalesce(F.col("v_user"), F.col("c_user")).alias("user_id"),
        "view_id",
        "click_id",
        (F.unix_micros("c_ts") - F.unix_micros("v_ts")).alias("gap_us"),
    )


def read_events_stream_with_horizon_sentinel(
    spark: SparkSession, sf_dir: str, advance: str = "9 hours"
) -> DataFrame:
    """The events stream UNIONED with a two-row far-future sentinel
    (one 'view' + one 'click', ``user_id = -1``, ts = fixture max +
    ``advance``), for bounded replays of OUTER stateful operators.

    Outer join null rows / final session flushes are emitted only when
    the watermark passes the row's expiry. On an unbounded Kafka feed
    the next day's traffic advances the watermark for free; a bounded
    fixture ends instead, freezing the watermark at ``max(ts) − delay``
    and permanently withholding the tail's outer results. The sentinel
    models "the stream kept going" — it advances the watermark past
    every real row's expiry so the no-data micro-batch
    (SPARK-24156, on by default) flushes ALL pending outer state, making
    the drain equal the batch oracle exactly. Callers filter
    ``user_id >= 0`` out of the result; the sentinel rows themselves
    match nothing (negative user key).

    The sentinel parquet is written driver-side into a throwaway temp dir
    (normalized µs timestamps), read as a second file stream, and unioned
    — the fixture dir itself is never touched."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ev = read_events_stream(spark, sf_dir)
    # Fixture max(ts) from the parquet footers (driver-side, no Spark
    # job); reuse the probe so nanos/µs fixtures both work, and handle
    # Spark-written part-file DIRECTORIES like catalog.probe_events_ts
    # (stats must come from EVERY part — one part's max is not the max).
    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    else:
        parts = [path]
    kind = probe_events_ts(path)
    max_us = None
    for part in parts:
        pf = pq.ParquetFile(part)
        idx = pf.schema_arrow.get_field_index("ts")
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(idx).statistics
            if st is not None and st.has_min_max:
                raw = st.max
                if kind == "nanos":
                    us = int(raw) // 1000 if isinstance(raw, int) else int(raw.timestamp() * 1e6)
                else:
                    us = int(raw.timestamp() * 1e6)
                max_us = us if max_us is None else max(max_us, us)
    if max_us is None:
        # Spark's default parquet timestamp output is INT96, which
        # carries no row-group statistics — decode the ts column instead
        # (driver-side pyarrow read; acceptable because the sentinel is
        # a bounded-replay test device, never a production path).
        import pyarrow.compute as pc

        for part in parts:
            col = pq.read_table(part, columns=["ts"]).column("ts")
            m = pc.max(col).as_py()
            if m is not None:
                us = int(m.timestamp() * 1e6)
                max_us = us if max_us is None else max(max_us, us)
    if max_us is None:
        raise ValueError(f"events.ts at {path} is empty or unreadable")
    qty, unit = advance.split()
    adv_us = int(qty) * {"hours": 3600, "minutes": 60, "seconds": 1}[unit] * 10**6
    sent_us = max_us + adv_us
    d = tempfile.mkdtemp(prefix="wm_sentinel_")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([-1, -2], pa.int64()),
                "ts": pa.array([sent_us, sent_us], pa.timestamp("us")),
                "user_id": pa.array([-1, -1], pa.int64()),
                "event_type": pa.array(["view", "click"], pa.string()),
                "value": pa.array([0.0, 0.0], pa.float64()),
                "props": pa.array(["{}", "{}"], pa.string()),
            }
        ),
        os.path.join(d, "sentinel.parquet"),
    )
    sent = (
        spark.readStream.schema(_events_schema(T.TimestampNTZType()))
        .parquet(d)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    return ev.unionByName(sent)


def stream_static_join(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream ⋈ static dimension (broadcast; no state) → per-segment
    aggregate — the enrich-then-aggregate CDC consumer pattern."""
    return (
        events.join(
            F.broadcast(customers),
            events.user_id == customers.c_custkey,
            "inner",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec2("value")).cast("double").alias("total_value"),
            # NB: exact count_distinct is unsupported on streams — the
            # streaming answer is approx_count_distinct or a two-stage
            # (segment,user) pre-aggregation; kept out of the oracle query.
        )
    )
