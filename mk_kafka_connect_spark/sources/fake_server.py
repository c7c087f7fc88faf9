"""In-process fake paginated REST API — a shipped testing utility (like
pandas.testing): serves
the scenarios from the reference's operational docs
(``mk-chargeover-source-connector/README.md:477-533``): pagination,
datetime-range filtering, rate limiting (429), transient failures, and the
``{"response": [...]}`` envelope.
"""

from __future__ import annotations

import json
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

__all__ = ["FakeRestServer"]


class FakeRestServer:
    """Serves ``/api/{entity}`` with limit/offset/where/order params over a
    per-entity row list. ``fail_next(n)`` makes the next n requests return
    HTTP 500; ``rate_limit_next(n)`` returns 429s. Both counters are read
    and decremented under one lock, so concurrent requests never share a
    scripted fault."""

    def __init__(self, data: dict[str, list[dict]]):
        self.data = data
        self.requests: list[str] = []
        self.posted: dict[str, list[dict]] = {}
        self._fail = 0
        self._limit = 0
        self._lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence
                pass

            def _faulted(self, logged: str) -> bool:
                """Log the request and answer it with the next scripted
                fault, if any: HTTP 500s first, then 429s."""
                with outer._lock:
                    outer.requests.append(logged)
                    status = None
                    if outer._fail > 0:
                        outer._fail -= 1
                        status = 500
                    elif outer._limit > 0:
                        outer._limit -= 1
                        status = 429
                if status is None:
                    return False
                self.send_response(status)
                self.end_headers()
                return True

            def do_GET(self):  # noqa: N802
                if self._faulted(self.path):
                    return
                parsed = urllib.parse.urlparse(self.path)
                entity = parsed.path.rstrip("/").split("/")[-1]
                qs = urllib.parse.parse_qs(parsed.query)
                # Entities with no configured rows fall back to whatever
                # has been POSTed under that name — lets a sink write be
                # read back through the source (round-trip certification).
                with outer._lock:
                    rows = list(
                        outer.data.get(entity) or outer.posted.get(entity, [])
                    )
                where = qs.get("where", [None])[0]
                if where:
                    rows = [r for r in rows if outer._match(r, where)]
                # Projection pushdown (CO-README:150-176): fields=a,b
                # trims every served payload to the requested columns.
                fields = qs.get("fields", [None])[0]
                if fields:
                    keep = fields.split(",")
                    rows = [
                        {k: r[k] for k in keep if k in r} for r in rows
                    ]
                order = qs.get("order", [None])[0]
                if order:
                    field = order.split(":")[0]
                    rows.sort(key=lambda r: r.get(field) or "")
                offset = int(qs.get("offset", ["0"])[0])
                limit = int(qs.get("limit", ["100"])[0])
                page = rows[offset : offset + limit]
                body = json.dumps({"response": page}).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):  # noqa: N802
                if self._faulted("POST " + self.path):
                    return
                entity = urllib.parse.urlparse(self.path).path.rstrip("/").split("/")[-1]
                n = int(self.headers.get("Content-Length", 0))
                payload = json.loads(self.rfile.read(n) or b"{}")
                records = payload.get("records", [])
                with outer._lock:
                    outer.posted.setdefault(entity, []).extend(records)
                body = json.dumps({"accepted": len(records)}).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(body)

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @staticmethod
    def _match(row: dict, where: str) -> bool:
        for cond in where.split(","):
            parts = cond.replace(r"\:", "\x00").split(":")
            field, op, value = parts[0], parts[1], parts[2].replace("\x00", ":")
            rv = row.get(field)
            if rv is None:
                return False
            if op == "GTE" and not str(rv) >= value:
                return False
            if op == "LT" and not str(rv) < value:
                return False
        return True

    def fail_next(self, n: int) -> None:
        with self._lock:
            self._fail = n

    def rate_limit_next(self, n: int) -> None:
        with self._lock:
            self._limit = n

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}/api"

    def __enter__(self) -> "FakeRestServer":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
