"""HTTP façade over StatementsService — the reference's wire surface.

The reference dashboard talks to a REST endpoint
(reference ``api/statements.py``):

- ``POST {root}/organizations/{org}/environments/{env}/statements``
  with a client-generated statement envelope (``:65-94``; the CLIENT
  makes the name, ``random_id`` ``:11-13``) → statement JSON back.
- ``GET  .../statements/{name}`` → envelope, 404 for unknown
  (``:54-63``).
- ``GET  .../statements/{name}/results[?page_token=N]`` →
  ``{"results": {"data": [records]}, "metadata": {"next": url}}``
  (``:96-141``): an empty data page with a ``next`` URL is the
  keep-alive; an empty ``next`` ends a batch result stream.
- ``DELETE .../statements/{name}`` → stop.

This server binds those routes to an in-process StatementsService, so
the reference dashboard runs against the Spark engine with a URL
change (no auth needed — the Authorization header is accepted and
ignored). Redirects are never issued (the reference client carries
manual 307 handling for Confluent's data-plane bounce,
``api/statements.py:117-126``; pointing at one host removes the need).

Scale posture: the handler only pages the statement's bounded ring
buffer — no per-request Spark work, no result materialization beyond
what the service already bounds (toLocalIterator chunks).
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import parse_qs, urlparse

from streamlit_flink_demo_spark.statements import StatementsService, _json_safe

_STMT_RE = re.compile(
    r"^/sql/v1/organizations/[^/]+/environments/[^/]+/statements"
    r"(?:/(?P<name>[^/?]+))?(?P<results>/results)?$"
)


def _wire(v: Any) -> Any:
    """Row values → JSON wire types (Rows/tuples → arrays, timestamps →
    ISO strings, bytes → latin-1-safe hex)."""
    if isinstance(v, (list, tuple)):
        return [_wire(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _wire(x) for k, x in v.items()}
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return _json_safe(v)


class StatementsHTTPServer:
    """Thin threaded HTTP server over one StatementsService."""

    def __init__(
        self,
        service: StatementsService,
        host: str = "127.0.0.1",
        port: int = 0,
        # 10% of the ResultBuffer ring: one GET drains a microbatch
        page_size: int = 10_000,
    ):
        self.service = service
        self.page_size = page_size
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):  # silent
                pass

            def _json(self, code: int, payload: dict) -> None:
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self) -> None:
                parsed = urlparse(self.path)
                m = _STMT_RE.match(parsed.path)
                if not m or not m.group("name"):
                    self._json(404, {"error": "not found"})
                    return
                name = m.group("name")
                try:
                    if m.group("results"):
                        q = parse_qs(parsed.query)
                        try:
                            cursor = int(q.get("page_token", ["0"])[0])
                        except ValueError:
                            self._json(
                                400,
                                {"error": "page_token must be an integer"},
                            )
                            return
                        # Phase BEFORE page: the worker appends its
                        # final chunk and THEN flips to a terminal
                        # phase, so a terminal phase observed first
                        # guarantees the subsequent page read sees
                        # every record — the reverse order could
                        # observe an empty page, miss a final chunk,
                        # then see 'completed' and drop the tail.
                        env = outer.service.get(name)
                        records, nxt = outer.service.next_results(
                            name, cursor, outer.page_size
                        )
                        done = (
                            not env["status"]["phase"]
                            in ("pending", "running")
                            and nxt == cursor
                            and not records
                        )
                        self._json(
                            200,
                            {
                                "results": {
                                    "data": [
                                        {**r, "row": _wire(r["row"])}
                                        for r in records
                                    ]
                                },
                                "metadata": {
                                    "next": ""
                                    if done
                                    else f"{parsed.path}?page_token={nxt}"
                                },
                            },
                        )
                    else:
                        self._json(200, outer.service.get(name))
                except KeyError:
                    self._json(404, {"error": f"statement {name} not found"})

            def do_POST(self) -> None:
                m = _STMT_RE.match(urlparse(self.path).path)
                if not m or m.group("name"):
                    self._json(404, {"error": "not found"})
                    return
                length = int(self.headers.get("Content-Length", "0"))
                try:
                    stmt = json.loads(self.rfile.read(length) or b"{}")
                    spec = stmt.get("spec", {})
                    env = outer.service.create(
                        spec.get("statement", ""),
                        properties=spec.get("properties"),
                        name=stmt.get("name"),
                    )
                except Exception as ex:
                    self._json(400, {"error": str(ex)})
                    return
                self._json(200, env)

            def do_DELETE(self) -> None:
                m = _STMT_RE.match(urlparse(self.path).path)
                if not m or not m.group("name") or m.group("results"):
                    self._json(404, {"error": "not found"})
                    return
                try:
                    outer.service.stop(m.group("name"))
                    self._json(200, {})
                except KeyError:
                    self._json(404, {"error": "not found"})

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def address(self) -> tuple[str, int]:
        return self._httpd.server_address[:2]

    def url(self, org: str = "org", env: str = "env") -> str:
        host, port = self.address
        return (
            f"http://{host}:{port}/sql/v1/organizations/{org}"
            f"/environments/{env}/statements"
        )

    def start(self) -> "StatementsHTTPServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)
