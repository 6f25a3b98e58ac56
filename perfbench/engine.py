"""Engine process of the benchmark: the system under test, alone.

Starts the engine's Spark session and then serves one workload:

- streaming (``--spool DIR``): binds the ``user`` view to the spool
  directory and serves ``StatementsHTTPServer`` on a free localhost
  port. The load generator and the client live in the parent process
  (``run.py``) and reach the engine only over HTTP and the spool.
- batch (``--batch DIR``): submits registered queries over the seeded
  tables in DIR itself, one at a time (``batch.serve``); no serving
  layer is involved.

Protocol with the parent, one line each on stdout / stdin:

- engine prints ``READY <port> <session_start_s>`` once started;
- batch only: parent writes ``RUN <spec_path>``; the engine does the
  set-up, prints ``SET``, measures, writes the answers and prints
  ``MEASURED``;
- parent writes ``MARK`` when its measured window opens (Spark stages
  from then on are summed into the report);
- parent writes ``STOP <report_path>``; the engine writes its report
  (stage metrics, the live heap after a full collection, and spans and
  streaming progress when tracing) to that path, stops its statements,
  the server and Spark, prints ``DONE`` and exits.

Usage: python3 perfbench/engine.py (--spool DIR | --batch DIR) --trace 0|1
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.getcwd())  # the checkout root holds the program
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import Tracer  # noqa: E402


def _listener_class():
    """A StreamingQueryListener that keeps each query's progress
    (Structured Streaming's own phase timings and state-store sizes)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            self.events.append(
                {
                    "name": p.name,
                    "batch": p.batchId,
                    "start": p.timestamp,
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs or {}),
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_mem": sum(o.memoryUsedBytes for o in ops),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog


def _instrument(tracer: Tracer, service) -> None:
    """Wrap the engine's public layer boundaries in spans."""
    from streamlit_flink_demo_spark.statements import StatementsService
    from streamlit_flink_demo_spark.streaming.emitter import (
        ChangelogEmitter,
        ResultBuffer,
    )

    def statement_of(emitter) -> str:
        for name, s in list(service._statements.items()):
            if s.emitter is emitter:
                return name
        return "?"

    tracer.wrap(
        ChangelogEmitter,
        "__call__",
        "emitter.call",
        lambda em, df, batch_id: {"trace": f"{statement_of(em)}:{batch_id}"},
    )
    for method in ("apply_upserts", "apply_full_snapshot"):
        tracer.wrap(
            ChangelogEmitter,
            method,
            "emitter.diff",
            lambda em, rows: {"rows": len(rows)},
            lambda out: {"records": len(out)},
        )
    tracer.wrap(
        ResultBuffer,
        "append",
        "buffer.append",
        lambda buf, records: {"records": len(records)},
    )
    tracer.wrap(
        StatementsService,
        "create",
        "statements.create",
        lambda svc, sql, **kw: {"trace": kw.get("name")},
    )
    original = StatementsService.next_results

    def next_results(svc, name, cursor=0, page_size=100):
        with tracer.span("statements.next_results", trace=name) as s:
            records, nxt = original(svc, name, cursor, page_size)
            s.record["records"] = len(records)
            # unread records left in the statement's buffer after this
            # page: how far the client lags behind the emitter
            s.record["lag"] = svc._statements[name].buffer.size() - nxt
        return records, nxt

    StatementsService.next_results = next_results


STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ms": "executorCpuTime",  # nanoseconds, scaled below
    "jvm_gc_ms": "jvmGcTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "spill_bytes": "memoryBytesSpilled",
    "input_bytes": "inputBytes",
    "tasks": "numTasks",
}


def _stages(spark) -> list:
    """Every stage Spark's status store keeps (it is fed with the UI
    off too)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    seq = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
    return [seq.apply(i) for i in range(seq.size())]


def last_stage_id(spark) -> int:
    return max((st.stageId() for st in _stages(spark)), default=-1)


def stage_totals(spark, after_stage: int) -> dict:
    """Sums over the completed stages with an id above ``after_stage``."""
    out = dict.fromkeys(STAGE_FIELDS, 0)
    out["stages"] = 0
    for st in _stages(spark):
        if st.stageId() <= after_stage or st.status().toString() != "COMPLETE":
            continue
        out["stages"] += 1
        for key, getter in STAGE_FIELDS.items():
            out[key] += getattr(st, getter)()
    out["executor_cpu_ms"] /= 1e6
    return out


def live_heap_mb(spark) -> float:
    """Java heap in use after a full collection: what the engine holds.
    Python's collector runs first, so that Java objects only dead
    Python proxies still pin are released."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return heap.getHeapMemoryUsage().getUsed() / 2**20


def main() -> int:
    ap = argparse.ArgumentParser()
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--spool")
    mode.add_argument("--batch")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    tracer = Tracer(enabled=bool(args.trace))
    t0 = time.time()
    from streamlit_flink_demo_spark.session import get_spark

    spark = get_spark("perfbench")
    session_start_s = time.time() - t0
    progress = service = server = None
    port = 0
    if args.spool:
        from streamlit_flink_demo_spark.http_api import StatementsHTTPServer
        from streamlit_flink_demo_spark.sources.stream_fixtures import user_stream
        from streamlit_flink_demo_spark.statements import StatementsService

        if args.trace:
            progress = _listener_class()()
            spark.streams.addListener(progress)
        user_stream(spark, args.spool).createOrReplaceTempView("user")
        service = StatementsService(spark)
        if args.trace:
            _instrument(tracer, service)
        server = StatementsHTTPServer(service).start()
        port = server.address[1]
    print(f"READY {port} {session_start_s:.6f}", flush=True)

    report: dict = {"session_start_s": session_start_s}
    mark = -1
    report_path = None
    for line in sys.stdin:
        cmd, _, arg = line.strip().partition(" ")
        if cmd == "RUN":
            import batch

            with open(arg) as fh:
                spec = json.load(fh)
            report["batch"] = batch.serve(
                spark, args.batch, spec, lambda: last_stage_id(spark))
            mark = report["batch"].pop("mark")
        elif cmd == "MARK" and not args.batch:  # batch marks inside serve
            mark = last_stage_id(spark)
        elif cmd == "STOP":
            report_path = arg
            break
    if report_path:
        report["stages"] = stage_totals(spark, mark)
        report["heap_live_mb"] = live_heap_mb(spark)
        report["spans"] = tracer.spans
        report["progress"] = progress.events if progress else []
        report["snapshot_keys"] = {
            name: len(s.emitter._snapshot)
            for name, s in (service._statements.items() if service else ())
            if s.emitter is not None
        }
        with open(report_path, "w") as fh:
            json.dump(report, fh)
    if server is not None:
        server.stop()
        for name in list(service._statements):
            service.stop(name)
    spark.stop()
    print("DONE", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
