"""End-to-end CDC pipeline assembly — the engine-level equivalent of a
whole Kafka Connect deployment (connector + SMT chain + converter + topic
routing), declared as one config object.

Reference lifecycle being replaced (SURVEY.md §3.1): Connect runtime →
``Connector.start`` → ``Task.poll`` → SMT chain → JsonConverter → Kafka.
Engine lifecycle: ``CdcPipeline.run_batch_to_parquet`` /
``run_stream_to_parquet`` →
``paginated_rest`` DataSource → transform chain (``transforms.py``) →
keyed/enriched/routed records (``operators/cdc.py``) → sink (partitioned
parquet, Kafka when on classpath, or any writer callable).

One pipeline object covers both modes with the same transforms — the
batch/streaming unification the reference approximates with its
INITIAL/INCREMENTAL modes.
"""

from __future__ import annotations

import copy
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.cdc import route_topics, to_kafka_shape
from .sources.rest_source import register
from .transforms import apply_chain

__all__ = ["CdcPipeline"]


@dataclass
class CdcPipeline:
    """Declarative CDC pipeline: source options (the reference's connector
    properties), a transform chain (the SMT chain), and a sink."""

    source_options: dict[str, str]
    transform_chain: list[dict[str, Any]] = field(default_factory=list)
    topic_prefix: str = "rest"
    # (session, config snapshot, routed DataFrame) from the last read_batch.
    _batch: tuple | None = field(default=None, init=False, repr=False, compare=False)

    def _read(self, spark: SparkSession, reader) -> DataFrame:
        """``paginated_rest`` source rows (entity, key, payload,
        _ingestion_timestamp, _load_mode) through ``reader``
        (``spark.read`` or ``spark.readStream``) → transformed, routed
        records."""
        register(spark)
        raw = reader.format("paginated_rest").options(**self.source_options).load()
        df = raw.withColumn("_entity_type", F.col("entity"))
        df = apply_chain(df, self.transform_chain)
        return route_topics(df, self.topic_prefix)

    def read_batch(self, spark: SparkSession) -> DataFrame:
        """Batch source rows, transformed and routed. The relation is
        built once and reused while the session and the config are
        unchanged; the data is not: it holds no rows, every action
        re-plans it (a caller's filters reach ``pushFilters`` on a fresh
        reader) and fetches when it runs. Reuse skips re-resolving the
        Python DataSource, one Python worker task per call."""
        config = (self.source_options, self.transform_chain, self.topic_prefix)
        if self._batch is None or self._batch[0] is not spark or self._batch[1] != config:
            self._batch = (spark, copy.deepcopy(config), self._read(spark, spark.read))
        return self._batch[2]

    def run_batch_to_parquet(self, spark: SparkSession, path: str) -> int:
        """One full batch pull, appended to entity-partitioned parquet
        under ``path``. Returns the count of all rows under ``path``,
        including rows an earlier run appended there. Partitioning by
        entity + ingestion date gives the time-range pruning layout
        (SURVEY.md §4)."""
        # Defensive cast: a transform chain may have stringified the
        # ingestion timestamp (the string-cast SMT does exactly that).
        out = self.read_batch(spark).withColumn(
            "dt",
            F.date_format(
                F.timestamp_millis(F.col("_ingestion_timestamp").cast("long")),
                "yyyy-MM-dd",
            ),
        )
        out.write.mode("append").partitionBy("_entity_type", "dt").parquet(path)
        return spark.read.parquet(path).count()

    def stream(self, spark: SparkSession) -> DataFrame:
        return self._read(spark, spark.readStream)

    def run_stream_to_parquet(
        self, spark: SparkSession, path: str, checkpoint: str, timeout_s: int = 300
    ) -> None:
        """Checkpointed streaming drain to partitioned parquet — resume and
        exactly-once file commits come from Structured Streaming's offset
        WAL + commit log (the reference's offset-storage semantics,
        CO-README:70-86, for free)."""
        q = (
            self.stream(spark)
            .writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", checkpoint)
            .partitionBy("_entity_type")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_s)

    def kafka_shaped(self, spark: SparkSession) -> DataFrame:
        """Batch pull in Kafka sink shape (topic, key, value) — pipe into
        sources/kafka.write_kafka_batch when a broker + jar are present."""
        return to_kafka_shape(self.read_batch(spark))
