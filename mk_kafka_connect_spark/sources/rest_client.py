"""Paginated REST client with the reference's retry/backoff/rate-limit
semantics (``ChargeOverApiClient.java:80-183`` + ``ChargeOverSourceTask.java:294-343``):

* query construction: half-open datetime range (``field:GTE:start,field:LT:end``
  with colon escaping), ascending sort on the datetime field, limit/offset
  pagination, verbatim extra params (``fields=``/``expand=``)
* response parsing: ``{"response": [...]}`` envelope or bare JSON array
* ``has_more`` inferred from a full page (``ApiClient.java:163-167``)
* retry: up to ``max_retries`` attempts; general errors back off
  ``2^attempt × 1 s + 10 % jitter`` capped at 30 s (``Task.java:329-337``);
  HTTP 429 waits a fixed 60 s (``Task.java:314-324``)
* connection test: one-row probe, success = HTTP 200 (``ApiClient.java:185-209``)
* ``post``: the REST sink's ``{"records": [...]}`` POST, through the same
  request and retry loop as the page fetch

Pure stdlib (urllib) so it runs inside DataSource partitions on any
executor. ``sleeper`` is the one place to inject the backoff and
rate-limit waits in tests. Spark pickles the sink writer, and the client
it holds, to executors, so every default stays picklable.
"""

from __future__ import annotations

import base64
import json
import random
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Callable
from dataclasses import dataclass

__all__ = ["FetchResult", "RateLimitError", "RestClient"]

RATE_LIMIT_WAIT_S = 60.0  # Task.java:318
BACKOFF_CAP_S = 30.0  # Task.java:333


class RateLimitError(Exception):
    """HTTP 429 (ChargeOverRateLimitException.java:8-12)."""


@dataclass
class FetchResult:
    """Mirror of ApiClient.java:36-58."""

    records: list[dict]
    has_more: bool
    total_fetched: int


class RestClient:
    def __init__(
        self,
        base_url: str,
        username: str = "",
        password: str = "",
        timeout_s: float = 30.0,
        max_retries: int = 3,
        sleeper: Callable[[float], None] = time.sleep,
        rng: random.Random | None = None,
    ) -> None:
        if max_retries < 0:
            raise ValueError("max_retries must be >= 0")
        self.base_url = base_url.rstrip("/")
        self.username = username
        self.password = password
        self.timeout_s = timeout_s
        self.max_retries = max_retries
        self.sleep = sleeper
        self.rng = rng or random.Random(0)

    # -- query construction (the reference's "planner", ApiClient.java:84-129)

    def build_url(
        self,
        entity: str,
        datetime_field: str,
        start_datetime: str | None,
        end_datetime: str | None,
        offset: int,
        limit: int,
        extra_params: str = "",
    ) -> str:
        url = f"{self.base_url}/{entity}?limit={limit}&offset={offset}"
        conditions = []
        if start_datetime:
            conditions.append(self._condition(datetime_field, "GTE", start_datetime))
        if end_datetime:
            conditions.append(self._condition(datetime_field, "LT", end_datetime))
        if conditions:
            url += "&where=" + ",".join(conditions)
        url += f"&order={datetime_field}:ASC"  # ApiClient.java:115-116
        if extra_params:
            url += "&" + extra_params  # verbatim, ApiClient.java:118-122
        return url

    @staticmethod
    def _condition(field: str, op: str, value: str) -> str:
        """``field:OP:value`` with backslash-escaped colons in the value,
        URL-encoded (ApiClient.java:96-112)."""
        escaped = value.replace(":", r"\:")
        return urllib.parse.quote(f"{field}:{op}:{escaped}", safe="\\:")

    # -- execution --------------------------------------------------------

    def _request(self, url: str, body: bytes | None = None):
        """One GET, or a JSON POST when ``body`` is given; returns the
        decoded JSON response (None for an empty body)."""
        req = urllib.request.Request(url, data=body)
        if body is not None:
            req.add_header("Content-Type", "application/json")
        if self.username or self.password:
            tok = base64.b64encode(
                f"{self.username}:{self.password}".encode()
            ).decode()  # Basic auth, ApiClient.java:133-138
            req.add_header("Authorization", f"Basic {tok}")
        try:
            with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                text = resp.read().decode("utf-8")
        except urllib.error.HTTPError as e:
            if e.code == 429:  # ApiClient.java:169-171
                raise RateLimitError(url) from e
            raise
        return json.loads(text) if text.strip() else None

    def _with_retry(self, call: Callable, *args, **kwargs):
        """Task.java:294-343: general errors → exponential backoff with
        10% jitter capped at 30 s; 429 → fixed 60 s wait; give up after
        max_retries retries."""
        for attempt in range(self.max_retries + 1):
            try:
                return call(*args, **kwargs)
            except RateLimitError:
                if attempt == self.max_retries:
                    raise
                self.sleep(RATE_LIMIT_WAIT_S)
            except Exception:  # noqa: BLE001 - retry everything like the reference
                if attempt == self.max_retries:
                    raise
                base = min(2**attempt * 1.0, BACKOFF_CAP_S)
                jitter = base * 0.1 * self.rng.random()  # Task.java:334-336
                self.sleep(min(base + jitter, BACKOFF_CAP_S))

    def fetch_page(
        self,
        entity: str,
        datetime_field: str,
        start_datetime: str | None,
        end_datetime: str | None,
        offset: int,
        limit: int,
        extra_params: str = "",
    ) -> FetchResult:
        url = self.build_url(
            entity, datetime_field, start_datetime, end_datetime, offset, limit, extra_params
        )
        records = self._request(url) or []
        if isinstance(records, dict):  # {"response": [...]} envelope
            records = records.get("response", [])
        if not isinstance(records, list):
            raise ValueError(f"unexpected response shape from {url}")
        return FetchResult(
            records=records,
            has_more=len(records) == limit,  # ApiClient.java:163-167
            total_fetched=len(records),
        )

    def fetch_page_with_retry(self, *args, **kwargs) -> FetchResult:
        return self._with_retry(self.fetch_page, *args, **kwargs)

    def post(self, entity: str, records: list[dict]):
        """POST ``{"records": [...]}`` to ``{base_url}/{entity}`` with the
        same retry contract as the page fetch."""
        body = json.dumps({"records": records}, default=str).encode()
        return self._with_retry(self._request, f"{self.base_url}/{entity}", body)

    def fetch_all(
        self,
        entity: str,
        datetime_field: str,
        start_datetime: str | None,
        end_datetime: str | None,
        limit: int,
        extra_params: str = "",
        start_offset: int = 0,
    ):
        """Generator over all pages from ``start_offset`` — the pagination
        loop of Task.java:195-240, resumable at any page boundary."""
        offset = start_offset
        while True:
            page = self.fetch_page_with_retry(
                entity, datetime_field, start_datetime, end_datetime, offset, limit, extra_params
            )
            yield offset, page
            if not page.has_more:
                return
            offset += page.total_fetched  # Task.java:221-226

    def test_connection(self) -> bool:
        """ApiClient.java:185-209: one-row probe."""
        try:
            self._request(f"{self.base_url}/customer?limit=1")
            return True
        except Exception:  # noqa: BLE001
            return False
