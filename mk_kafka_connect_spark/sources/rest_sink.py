"""Rate-limited REST sink as a Spark 4 Python DataSource writer.

The reference is source-only; SURVEY.md §4 names the outbound half — a
rate-limited REST sink — as the one optional custom DataSource. Each
task serializes its partition into ``batch.size``-record JSON POSTs
(``{"records": [...]}``) against ``{url}/{entity}``, throttled by a
token-interval limiter and sent through one ``rest_client.RestClient``
per writer, so each POST takes the source's own request and retry loop
(general errors → exponential backoff, 10% jitter, 30 s cap; HTTP 429 →
fixed 60 s wait; give up after ``max.retries`` — ``Task.java:294-343``
semantics).

Delivery semantics: at-least-once. Spark retries failed tasks, so a
batch can be re-POSTed; pair with a keyed payload (the CDC key from
``operators/cdc.keyed_records``) and an upserting endpoint — the same
at-least-once + idempotent-apply contract the reference documents for
its consumers (``CO-README:512-525``). The rate limit is per-task:
cluster-wide requests/sec = ``requests.per.second`` × concurrent tasks,
so size one knob from the other.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from .rest_client import RestClient

__all__ = ["RestSinkDataSource", "register_sink"]


@dataclass
class _SinkCommit(WriterCommitMessage):
    n_records: int = 0
    n_requests: int = 0


class _RestSinkWriter(DataSourceWriter):
    def __init__(self, options: dict):
        url = (options.get("url") or "").rstrip("/")
        if not url:
            raise ValueError("rest sink requires option 'url'")
        self.entity = options.get("entity") or "records"
        self.batch_size = int(options.get("batch.size", "100"))
        if not 1 <= self.batch_size <= 500:
            raise ValueError("batch.size must be in [1, 500]")  # Config.java parity
        self.rps = float(options.get("requests.per.second", "0")) or None
        self.client = RestClient(
            url,
            timeout_s=float(options.get("request.timeout.seconds", "30")),
            max_retries=int(options.get("max.retries", "3")),
        )
        self.clock = time.monotonic  # injectable for tests; sleeps go through client.sleep

    # -- partition write ---------------------------------------------------

    def write(self, iterator: Iterator) -> _SinkCommit:
        n_records = n_requests = 0
        batch: list[dict] = []
        next_allowed = 0.0
        min_interval = (1.0 / self.rps) if self.rps else 0.0

        def flush() -> None:
            nonlocal n_records, n_requests, next_allowed, batch
            if not batch:
                return
            if min_interval:
                now = self.clock()
                if now < next_allowed:
                    self.client.sleep(next_allowed - now)
                next_allowed = max(next_allowed, now) + min_interval
            self.client.post(self.entity, batch)
            n_records += len(batch)
            n_requests += 1
            batch = []

        for row in iterator:
            batch.append(row.asDict(recursive=True))
            if len(batch) >= self.batch_size:
                flush()
        flush()
        return _SinkCommit(n_records=n_records, n_requests=n_requests)

    def commit(self, messages) -> None:  # driver-side tally
        total = sum(m.n_records for m in messages if m)
        self.last_commit_total = total

    def abort(self, messages) -> None:
        pass  # at-least-once: partial POSTs may have landed; consumer upserts


class _RestStreamSinkWriter(_RestSinkWriter, DataSourceStreamWriter):
    """Micro-batch streaming flavor of the sink: ``write`` (per-task
    batched, throttled, retried POSTs) is inherited verbatim; ``commit``
    runs on the driver once every task of an epoch succeeded and POSTs a
    commit marker ``{batch_id, n_records, n_requests}`` to
    ``{url}/{entity}__commits`` — the streaming analogue of Kafka
    Connect's offset flush (``Task.java:267-291``): consumers that want
    effectively-once read the data entity joined against the marker log
    and drop rows from unmarked (aborted / replayed-then-superseded)
    epochs, the same at-least-once + idempotent-apply contract as the
    batch sink. ``abort`` posts nothing: an epoch with no marker is
    invisible to marker-joining consumers no matter how many of its
    partition POSTs landed."""

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 (Spark API)
        marker = {
            "batch_id": batchId,
            "n_records": sum(m.n_records for m in messages if m),
            "n_requests": sum(m.n_requests for m in messages if m),
        }
        self.client.post(f"{self.entity}__commits", [marker])

    def abort(self, messages, batchId: int) -> None:  # noqa: N803 (Spark API)
        pass  # no marker — the epoch never becomes visible to consumers


class RestSinkDataSource(DataSource):
    """``df.write.format("rest_sink").option("url", ...).option("entity",
    ...).save()`` — batched, throttled, retrying POSTs. Also usable as a
    STREAMING sink (``df.writeStream.format("rest_sink")``): same write
    path per micro-batch plus a per-epoch commit marker."""

    @classmethod
    def name(cls) -> str:
        return "rest_sink"

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return _RestSinkWriter(dict(self.options))

    def streamWriter(self, schema: StructType, overwrite: bool) -> DataSourceStreamWriter:
        return _RestStreamSinkWriter(dict(self.options))


def register_sink(spark) -> None:
    """Register ``rest_sink`` on ``spark`` so that it works from any
    session: this module and ``rest_client`` are pickled by value
    (``sources._register_python_source``). Idempotent per session."""
    import sys

    from . import _register_python_source
    from . import rest_client as _rest_client

    _register_python_source(spark, RestSinkDataSource, (sys.modules[__name__], _rest_client))
