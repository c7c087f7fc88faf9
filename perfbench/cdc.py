"""CDC ingest workload: the reference's incremental pipeline, end to end.

A seeded change log of four entities is served by the package's
``FakeRestServer``. ``IncrementalDriver`` polls it with an injected clock
that advances one cron period per poll; each window is fetched through
``CdcPipeline.read_batch`` (entity and ``_event_datetime`` bounds pushed
into the source, ``string_cast`` transform chain) and written by an
overwrite-by-window partitioned parquet sink. A pass replays the whole
log from a fresh state store; passes repeat until the run's time is up.
The loop is closed: a poll starts only after the previous one returned.
"""

from __future__ import annotations

import json
import os
import random
import time
from datetime import datetime, timedelta

from mk_kafka_connect_spark.streaming.incremental import IncrementalDriver, StateStore

__all__ = [
    "ENTITIES",
    "PERIODS",
    "T0",
    "change_log",
    "TimedStateStore",
    "run_cdc",
    "check_pass",
]

ENTITIES = ("customer", "invoice", "payment", "subscription")
PERIODS = 2  # cron periods (windows per entity) in one pass over the log
MEAN_RECORDS = 200  # mean records per entity per period
BATCH_SIZE = 100  # records per REST page
CRON = "0 0 * * * ?"  # hourly
PERIOD = timedelta(hours=1)
T0 = datetime(2024, 1, 1)
FMT = "%Y-%m-%d %H:%M:%S"
_STATUSES = ("active", "cancelled", "draft", "paid", "pending")


def change_log(seed: int, periods: int = PERIODS) -> dict[str, list[dict]]:
    """Per-entity change records with ``mod_datetime`` spread over
    ``periods`` cron periods from ``T0``. The same seed gives the same log."""
    rng = random.Random(seed)
    span_s = int(periods * PERIOD.total_seconds())
    log: dict[str, list[dict]] = {}
    next_id = 1
    for entity in ENTITIES:
        n = periods * MEAN_RECORDS + rng.randint(-MEAN_RECORDS // 4, MEAN_RECORDS // 4)
        rows = []
        for _ in range(n):
            rows.append(
                {
                    "id": next_id,
                    "mod_datetime": (T0 + timedelta(seconds=rng.randrange(span_s))).strftime(FMT),
                    "amount": round(rng.uniform(1, 5000), 2),
                    "status": rng.choice(_STATUSES),
                    "active": rng.random() < 0.8,
                    "tags": [rng.choice(_STATUSES) for _ in range(rng.randint(0, 3))],
                }
            )
            next_id += 1
        rows.sort(key=lambda r: (r["mod_datetime"], r["id"]))
        log[entity] = rows
    return log


class TimedStateStore(StateStore):
    """State store that times each window from the save that freezes its
    batch to the save that advances its watermark."""

    def __init__(self, path: str):
        super().__init__(path)
        self.open: dict[str, float] = {}
        self.windows: list[float] = []

    def save(self, states) -> None:
        t0 = time.perf_counter()
        super().save(states)
        t1 = time.perf_counter()
        for entity, st in states.items():
            if st.is_processing_batch and entity not in self.open:
                self.open[entity] = t0
            elif not st.is_processing_batch and entity in self.open:
                self.windows.append(t1 - self.open.pop(entity))


def run_cdc(bench) -> dict:
    """Warm up with one window, then replay the log until ``bench.seconds``
    have been measured. Returns raw samples for ``run.py``."""
    from pyspark.sql import functions as F

    from mk_kafka_connect_spark.pipeline import CdcPipeline
    from mk_kafka_connect_spark.sources.fake_server import FakeRestServer

    spark, tracer = bench.spark, bench.tracer
    log = change_log(bench.seed)
    root = os.path.join(bench.work_dir, "cdc")
    passes: list[dict] = []

    with FakeRestServer(log) as server:
        pipeline = CdcPipeline(
            source_options={
                "url": server.url,
                "entities": ",".join(ENTITIES),
                "batch.size": str(BATCH_SIZE),
            },
            transform_chain=[
                {"name": "string_cast", "fields": ["_ingestion_timestamp", "_load_mode"]}
            ],
            topic_prefix="billing",
        )

        def one_pass(tag: str, polls: int = PERIODS, entities=ENTITIES) -> dict:
            out = os.path.join(root, tag, "sink")
            store = TimedStateStore(os.path.join(root, tag, "state.json"))
            now = {"t": T0}
            window_ops: list[int] = []

            def fetch(entity: str, start: str, end: str):
                op = bench.next_op()
                window_ops.append(op)
                bench.set_group(f"op{op}/window")
                with tracer.span("sources.build"):
                    return pipeline.read_batch(spark).filter(
                        (F.col("entity") == entity)
                        & (F.col("_event_datetime") >= start)
                        & (F.col("_event_datetime") < end)
                    )

            def sink(df, entity: str, window) -> None:
                with tracer.span("sinks.write"):
                    (
                        df.withColumn("wstart", F.lit(window.start))
                        .write.mode("overwrite")
                        .option("partitionOverwriteMode", "dynamic")
                        .partitionBy("entity", "wstart")
                        .parquet(out)
                    )

            if tracer.enabled:
                store.save = tracer.wrap(store.save, "streaming.state_save")
            driver = IncrementalDriver(
                store,
                list(entities),
                fetch,
                sink,
                cron=CRON,
                initial_datetimes={e: T0.strftime(FMT) for e in entities},
                clock=lambda: now["t"],
            )
            run_once = tracer.wrap(driver.run_once, "streaming.run_once")
            requests0 = len(server.requests)
            t_pass = time.perf_counter()
            for k in range(1, polls + 1):
                now["t"] = T0 + k * PERIOD
                run_once()
            wall = time.perf_counter() - t_pass
            return {
                "dir": os.path.join(root, tag),
                "wall": wall,
                "windows": store.windows,
                "ops": window_ops,
                "requests": len(server.requests) - requests0,
            }

        one_pass("warmup", polls=1, entities=ENTITIES[:1])
        bench.mark("warmup")
        tracer.reset()
        measured = 0.0
        while measured < bench.seconds or not passes:
            passes.append(one_pass(f"pass{len(passes)}"))
            measured += passes[-1]["wall"]

    bench.mark("measure")
    failures = {}
    for p in passes:
        err = check_pass(p["dir"], log)
        if err:
            failures[os.path.basename(p["dir"])] = err
    return {"passes": passes, "check_failures": failures, "records_per_pass": sum(map(len, log.values()))}


def check_pass(pass_dir: str, log: dict[str, list[dict]]) -> str | None:
    """The sink holds every generated record exactly once, under its own
    entity, and every entity's watermark equals the last window end."""
    import pyarrow.dataset as ds

    table = ds.dataset(os.path.join(pass_dir, "sink"), format="parquet", partitioning="hive")
    got = table.to_table(columns=["entity", "key"]).to_pydict()
    seen: dict[str, list[int]] = {e: [] for e in ENTITIES}
    for entity, key in zip(got["entity"], got["key"]):
        seen.setdefault(entity, []).append(json.loads(key)["id"])
    for entity in ENTITIES:
        want = sorted(r["id"] for r in log[entity])
        have = sorted(seen.get(entity, []))
        if have != want:
            return f"{entity}: sink holds {len(have)} records ({len(set(have))} distinct), log has {len(want)}"
    with open(os.path.join(pass_dir, "state.json")) as f:
        state = json.load(f)
    end = (T0 + PERIODS * PERIOD).strftime(FMT)
    for entity in ENTITIES:
        wm = state[entity]["last_processed_datetime"]
        if wm != end:
            return f"{entity}: watermark {wm}, expected {end}"
    return None
