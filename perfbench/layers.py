"""Per-layer metrics of a traced run, derived from its spans and counts.

Engine-side spans come from ``engine.py`` (emitter, result buffer,
statements service) and Structured Streaming's own progress events;
client-side spans from ``client.py`` (HTTP pages, changelog consume
and apply); ``batch_surface`` reports its submissions itself
(``batch.py``); Spark's status store gives the stage
totals of the window. Every ``*_ms`` timing is the median per call
over the measured window (set-up and warm-up files excluded), except
the set-up metrics ``statements.*`` and ``http.post_ms``. A layer's self time is its span minus its
child spans. Every workload reports every metric; a layer the
workload does not use reads 0.
"""

from __future__ import annotations

import datetime
import statistics

from batch import QUERIES


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000


def _self_ms(spans: list[dict]) -> list[float]:
    """Each span's duration minus the time its direct children cover."""
    child_ms = [0.0] * len(spans)
    for s in spans:
        if s.get("parent") is not None and "end" in s:
            child_ms[s["parent"]] += _ms(s)
    return [_ms(s) - child_ms[i] for i, s in enumerate(spans)]


def _epoch(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def per_layer(report, tracer, work, since, extra) -> dict:
    """Every per-layer metric as ``name -> (value, unit)``. ``since``
    is when the measured window began; ``extra`` holds the metrics
    measured outside the spans, in the same form."""
    subs = getattr(work, "subs", {})
    released_at = work.spool.released_at if subs else []
    eng_self = _self_ms(report["spans"])
    client = tracer.spans
    cli_self = _self_ms(client)

    def measured(spans, own, name, setup=False):
        return [(s, own[i]) for i, s in enumerate(spans)
                if s["name"] == name and "end" in s
                and (setup or s["start"] >= since)]

    def engine(name, setup=False):
        return measured(report["spans"], eng_self, name, setup)

    def cli(name, setup=False):
        return measured(client, cli_self, name, setup)

    # Structured Streaming progress of the measured, data-carrying batches
    batches = [p for p in report["progress"]
               if p["rows"] > 0 and _epoch(p["start"]) >= since]

    def phase(key):
        return _median(p["ms"].get(key, 0) for p in batches)

    # files waiting at the source when each batch started
    backlog = 0
    by_query: dict[str, list] = {}
    for p in report["progress"]:
        if p["rows"] > 0:
            by_query.setdefault(p["name"], []).append(p)
    for events in by_query.values():
        events.sort(key=lambda p: p["batch"])
        for consumed, p in enumerate(events):
            started = _epoch(p["start"])
            released = sum(1 for t in released_at if t <= started)
            backlog = max(backlog, released - consumed)

    calls = engine("emitter.call")
    diffs = engine("emitter.diff")
    rows_in = sum(s["rows"] for s, _ in diffs)
    records_out = sum(s["records"] for s, _ in diffs)
    gets = cli("http.get")
    page_records = sum(s["records"] for s, _ in gets)
    full_pages = sum(1 for s, _ in gets if s["records"])
    page_bytes = sum(s["bytes"] for s, _ in gets if s["records"])
    posts = {s["trace"]: s["start"] for s, _ in cli("http.post", setup=True)}
    applies = cli("changelog.apply")
    apply_ms = sum(_ms(s) for s, _ in applies)
    applied = sum(s["records"] for s, _ in applies)

    m = {
        "sources.latest_offset_ms": (phase("latestOffset"), "ms"),
        "sources.get_batch_ms": (phase("getBatch"), "ms"),
        "sources.backlog_files_max": (backlog, "count"),
        "microbatch.trigger_ms": (phase("triggerExecution"), "ms"),
        "microbatch.add_batch_ms": (phase("addBatch"), "ms"),
        "microbatch.wal_commit_ms": (phase("walCommit"), "ms"),
        "microbatch.commit_offsets_ms": (phase("commitOffsets"), "ms"),
        "microbatch.query_planning_ms": (phase("queryPlanning"), "ms"),
        "microbatch.state_rows": (
            max((p["state_rows"] for p in batches), default=0), "count"),
        "microbatch.state_mem_bytes": (
            max((p["state_mem"] for p in batches), default=0), "bytes"),
        "microbatch.batches": (len(batches), "count"),
        "emitter.call_ms": (_median(_ms(s) for s, _ in calls), "ms"),
        "emitter.collect_ms": (_median(own for _, own in calls), "ms"),
        "emitter.diff_ms": (_median(own for _, own in diffs), "ms"),
        "emitter.rows_in": (rows_in, "count"),
        "emitter.records_out": (records_out, "count"),
        "emitter.records_per_row": (
            records_out / rows_in if rows_in else 0.0, "ratio"),
        "emitter.snapshot_keys": (sum(report["snapshot_keys"].values()), "count"),
        "statements.create_ms": (
            _median(_ms(s) for s, _ in engine("statements.create", setup=True)),
            "ms"),
        "statements.first_result_ms": (
            _median((sub.first_record_at - posts[sub.name]) * 1000
                    for sub in subs.values() if sub.first_record_at), "ms"),
        "statements.buffer_lag_max_records": (
            max((s["lag"] for s, _ in engine("statements.next_results")),
                default=0), "count"),
        "http.get_ms": (_median(_ms(s) for s, _ in gets), "ms"),
        "http.records_per_page": (
            page_records / full_pages if full_pages else 0.0, "count"),
        "http.bytes_per_record": (
            page_bytes / page_records if page_records else 0.0, "bytes"),
        "http.requests": (len(gets), "count"),
        "http.empty_page_ratio": (
            (len(gets) - full_pages) / len(gets) if gets else 0.0, "ratio"),
        "http.post_ms": (
            _median(_ms(s) for s, _ in cli("http.post", setup=True)), "ms"),
        "changelog.consume_ms": (
            _median(own for s, own in cli("changelog.consume") if s["records"]),
            "ms"),
        "changelog.apply_ms": (_median(_ms(s) for s, _ in applies), "ms"),
        "changelog.apply_us_per_record": (
            apply_ms * 1000 / applied if applied else 0.0, "us"),
        "changelog.table_rows": (
            sum(len(sub.table) for sub in subs.values()), "count"),
    }
    batch = report.get("batch", {})
    subm = batch.get("samples", [])
    m["plans.build_ms"] = (
        _median(s["dispatch_ms"] for s in subm if s["kind"] == "build"), "ms")
    m["plans.cached_dispatch_ms"] = (
        _median(s["dispatch_ms"] for s in subm if s["kind"] == "cached"), "ms")
    for name in QUERIES:  # execution-dominated: the cached submissions
        m[f"plans.query_ms.{name}"] = (_median(
            s["ms"] for s in subm if s["name"] == name and s["kind"] == "cached"),
            "ms")
    for key, value in report["stages"].items():
        m[f"spark.{key}"] = (value, _unit(key))
    m.update(extra)
    return m


def _unit(key: str) -> str:
    return key.rsplit("_", 1)[1] if key.endswith(("_ms", "_bytes")) else "count"
