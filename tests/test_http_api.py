"""E1 lifecycle over HTTP (VERDICT #5): the reference dashboard's wire
protocol — client-generated name POSTed, phase polling via GET,
results paged by following metadata.next, keep-alive empty pages for
continuous queries, 404 semantics, DELETE stop — served by the engine
with no redirects."""

from __future__ import annotations

import json
import secrets
import urllib.request
from urllib.error import HTTPError

import pytest

from streamlit_flink_demo_spark.http_api import StatementsHTTPServer
from streamlit_flink_demo_spark.sources.catalog import register_tables
from streamlit_flink_demo_spark.statements import StatementsService


@pytest.fixture(scope="module")
def server(spark, sf_dir):
    register_tables(spark, sf_dir)
    svc = StatementsService(spark)
    srv = StatementsHTTPServer(svc, page_size=40).start()
    yield srv
    srv.stop()


def _get(url: str) -> dict:
    with urllib.request.urlopen(url) as r:
        assert r.status == 200
        return json.loads(r.read())


def _post(url: str, payload: dict) -> dict:
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json",
                 "Authorization": "Basic ignored"},
        method="POST",
    )
    with urllib.request.urlopen(req) as r:
        assert r.status == 200
        return json.loads(r.read())


def test_batch_lifecycle_over_http(server):
    root = server.url()
    # the CLIENT generates the name (reference api/statements.py:65-77)
    name = "test-" + secrets.token_hex(6)
    env = _post(root, {
        "name": name,
        "spec": {"statement": "SELECT c_custkey FROM customer",
                 "properties": {"sql.current-catalog": "spark_catalog"}},
    })
    assert env["name"] == name
    assert env["spec"]["properties"]["sql.current-catalog"] == "spark_catalog"

    # poll phase via GET (reference wait_for_status :171-192)
    import time
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        env = _get(f"{root}/{name}")
        if env["status"]["phase"] == "completed":
            break
        time.sleep(0.05)
    assert env["status"]["phase"] == "completed"
    cols = [c["name"] for c in env["status"]["traits"]["schema"]["columns"]]
    assert cols == ["c_custkey"]

    # page results following metadata.next until it empties (:96-141)
    host, port = server.address
    url = f"{root}/{name}/results"
    rows, pages = [], 0
    while url:
        page = _get(url if url.startswith("http")
                    else f"http://{host}:{port}{url}")
        rows.extend(page["results"]["data"])
        nxt = page["metadata"]["next"]
        pages += 1
        if not nxt:
            break
        url = nxt
        assert pages < 100
    assert len(rows) == 150  # sf0.001 customer
    assert all(isinstance(r["row"], list) for r in rows)


def test_unknown_statement_404(server):
    with pytest.raises(HTTPError) as ei:
        _get(f"{server.url()}/does-not-exist")
    assert ei.value.code == 404


def test_continuous_statement_keepalive_and_delete(server, spark, tmp_path):
    from streamlit_flink_demo_spark.sources.stream_fixtures import (
        user_stream,
        write_user_batch,
    )

    spool = str(tmp_path / "spool")
    user_stream(spark, spool).createOrReplaceTempView("user")
    root = server.url()
    name = "test-" + secrets.token_hex(6)
    env = _post(root, {
        "name": name,
        "spec": {"statement": (
            "SELECT eyeColor, count(*) AS n FROM user GROUP BY eyeColor"
        )},
    })
    assert env["status"]["phase"] == "running"

    # keep-alive: empty page, next still set (continuous never ends)
    page = _get(f"{root}/{name}/results")
    assert page["results"]["data"] == []
    assert page["metadata"]["next"]

    write_user_batch(spark, spool, 0, [
        {"guid": "g1", "eyeColor": "brown", "age": 30, "balance": "$1.00",
         "name": "u", "registered": None}])
    server.service.process_available(name)
    host, port = server.address
    page = _get(f"http://{host}:{port}" + page["metadata"]["next"])
    assert [(r["op"], r["row"]) for r in page["results"]["data"]] == [
        (0, ["brown", 1])
    ]

    req = urllib.request.Request(f"{root}/{name}", method="DELETE")
    with urllib.request.urlopen(req) as r:
        assert r.status == 200
    assert _get(f"{root}/{name}")["status"]["phase"] == "stopped"


def test_default_page_drains_a_microbatch_in_one_get(spark):
    """A server with the default page size returns a 1 000-record
    microbatch in one GET, and the page token it hands out stays valid
    after ring eviction moves the buffer's base."""
    from streamlit_flink_demo_spark.statements import PHASE_RUNNING, Statement
    from streamlit_flink_demo_spark.streaming.emitter import ResultBuffer

    svc = StatementsService(spark)
    buf = ResultBuffer(max_records=1500)
    svc._statements["paged"] = Statement(
        name="paged", sql="SELECT 1", properties={}, buffer=buf,
        phase=PHASE_RUNNING, streaming=True,
    )
    buf.append([{"op": "+I", "row": [i]} for i in range(1000)])
    srv = StatementsHTTPServer(svc).start()
    try:
        host, port = srv.address
        page = _get(f"{srv.url()}/paged/results")
        assert [r["row"] for r in page["results"]["data"]] == [
            [i] for i in range(1000)
        ]
        nxt = page["metadata"]["next"]
        assert nxt.endswith("page_token=1000")
        buf.append([{"op": "+I", "row": [i]} for i in range(1000, 2000)])
        page = _get(f"http://{host}:{port}{nxt}")  # base moved to 500
        assert [r["row"] for r in page["results"]["data"]] == [
            [i] for i in range(1000, 2000)
        ]
        assert page["metadata"]["next"].endswith("page_token=2000")
        assert buf.evicted_unread == 0
    finally:
        srv.stop()
