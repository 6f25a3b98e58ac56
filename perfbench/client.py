"""The benchmark's client: the reference dashboard's loop over HTTP.

One ``Subscription`` per statement: POST the statement, page its
results through ``metadata.next`` and fold every page into the
program's client SDK (``Changelog.consume`` then
``MaterializedTable.apply``). Only the wire protocol and the SDK are
used, as a dashboard process would.
"""

from __future__ import annotations

import http.client
import json
import time

from streamlit_flink_demo_spark.changelog import Changelog, MaterializedTable
from tracing import Tracer

ROOT = "/sql/v1/organizations/bench/environments/bench/statements"


class Wire:
    """JSON over HTTP/1.0 to the engine's statements server (the
    server closes each connection, so every request connects anew)."""

    def __init__(self, port: int, tracer: Tracer):
        self.port = port
        self.tracer = tracer

    def call(self, method: str, path: str, payload: dict | None = None):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        try:
            body = json.dumps(payload).encode() if payload is not None else None
            conn.request(
                method, path, body=body, headers={"Content-Type": "application/json"}
            )
            resp = conn.getresponse()
            raw = resp.read()
        finally:
            conn.close()
        if resp.status != 200:
            raise RuntimeError(f"{method} {path} -> {resp.status}: {raw[:200]!r}")
        return json.loads(raw), len(raw)


class Subscription:
    """One continuous statement as the dashboard sees it."""

    def __init__(self, wire: Wire, name: str, sql: str):
        self.wire = wire
        self.name = name
        self.sql = sql
        self.changelog = None
        self.table = None
        self.first_record_at: float | None = None
        self._next = f"{ROOT}/{name}/results"

    def create(self) -> None:
        tracer = self.wire.tracer
        with tracer.span("http.post", trace=self.name):
            self.wire.call(
                "POST", ROOT, {"name": self.name, "spec": {"statement": self.sql}}
            )
        while True:
            env, _ = self.wire.call("GET", f"{ROOT}/{self.name}")
            phase = env["status"]["phase"]
            if phase == "running":
                break
            if phase != "pending":
                raise RuntimeError(f"statement {self.name}: {env['status']}")
            time.sleep(0.02)
        columns = [c["name"] for c in env["status"]["traits"]["schema"]["columns"]]
        self.changelog = Changelog(columns, self._pages())
        self.table = MaterializedTable(columns)

    def _pages(self):
        wire, tracer = self.wire, self.wire.tracer
        while True:
            with tracer.span("http.get", trace=self.name) as s:
                body, size = wire.call("GET", self._next)
                data = body["results"]["data"]
                s.record["records"] = len(data)
                s.record["bytes"] = size
            nxt = body["metadata"]["next"]
            if not nxt:
                raise RuntimeError(f"statement {self.name} ended its results")
            self._next = nxt
            yield from data
            if not data:
                yield None

    def poll(self) -> list[dict]:
        """Fetch every available page and fold it into the table."""
        tracer = self.wire.tracer
        with tracer.span("changelog.consume", trace=self.name) as s:
            new = self.changelog.consume(limit=1 << 30)
            s.record["records"] = len(new)
        if new:
            if self.first_record_at is None:
                self.first_record_at = time.time()
            with tracer.span("changelog.apply", trace=self.name, records=len(new)):
                self.table.apply(new)
        return new
