#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload, from outside the
program.

    python3 perfbench/run.py --workload dashboard_live --seed 1 \\
        --seconds 20 --trace 0

Run from the root of a checkout (the program's package must sit in the
working directory). The run generates its inputs from the seed, starts
the engine in its own process (``engine.py``), drives it (over HTTP
for the streaming workloads; by a spec file for ``batch_surface``),
checks the results against the generator or the DuckDB oracle, stops
the engine and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records
spans in both processes and reports the per-layer metrics instead,
writing the spans to ``perfbench/out/``. Per-run scratch files live
under ``perfbench/tmp/`` and are removed at the end. NOTES.md explains
the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

from tracing import Tracer  # noqa: E402

# Pinned engine settings: 4 local cores and a JVM heap that fits a
# 15 GB box (the engine's own default heap is 48g). The heap is
# committed and touched at JVM start, so that the JVM's resident size
# does not depend on when its collector chose to grow the heap; the
# resident-memory metric leaves that fixed heap out.
ENGINE_CPUS = 4
ENGINE_HEAP_MB = 1024
ENGINE_DRIVER_MEM = f"{ENGINE_HEAP_MB}m"
RUN_TIMEOUT_S = 170  # a run that takes longer is stopped and fails
QUIET_BUSY = 0.25  # external busy share of all CPUs that counts as quiet


# -- the box ------------------------------------------------------------------
def cpu_busy(window_s: float = 0.25) -> float:
    """Share of all CPUs busy (including steal) over ``window_s``."""

    def snap():
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        return vals[3] + vals[4], sum(vals)

    i0, t0 = snap()
    time.sleep(window_s)
    i1, t1 = snap()
    return 0.0 if t1 == t0 else 1.0 - (i1 - i0) / (t1 - t0)


def await_quiet(timeout_s: float = 15.0) -> float:
    """Wait until the box is quiet, or ``timeout_s``; returns the busy
    share the timed region starts at."""
    deadline = time.time() + timeout_s
    busy = cpu_busy()
    while busy > QUIET_BUSY and time.time() < deadline:
        busy = cpu_busy()
    return busy


def calibrate_ms() -> float:
    """Median time of a fixed pure-Python loop: the box's speed now."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        sum(i * i for i in range(300_000))
        times.append((time.perf_counter() - t) * 1000)
    return statistics.median(times)


# -- the engine process tree --------------------------------------------------
def tree(pid: int) -> list[int]:
    """``pid`` and all its descendants (the JVM is one)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb(pid: int) -> float:
    """Sum of the peak resident sizes of ``pid``'s process tree."""
    total_kb = 0
    for p in tree(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def cpu_s(pid: int) -> float:
    ticks = 0
    for p in tree(pid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class Engine:
    """The engine subprocess, in its own session so that the whole
    tree (Python process and JVM) can be stopped together."""

    def __init__(self, run_dir: str, args: list[str], trace: int, cpus: int):
        local = os.path.join(run_dir, "spark-local")
        os.makedirs(local)
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_GRAFT_DRIVER_MEM=ENGINE_DRIVER_MEM,
            SPARK_GRAFT_ARTIFACT_DIR=os.path.join(run_dir, "artifacts"),
            SPARK_LOCAL_DIRS=local,
            TMPDIR=local,
            PYSPARK_SUBMIT_ARGS=(
                f"--driver-memory {ENGINE_DRIVER_MEM} --driver-java-options "
                f"'-Xms{ENGINE_DRIVER_MEM} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={local}' pyspark-shell"
            ),
            PYTHONDONTWRITEBYTECODE="1",
        )
        env.pop("SPARK_GRAFT_MASTER", None)
        self.log = open(os.path.join(run_dir, "engine.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"),
             *args, "--trace", str(trace)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self.log,
            text=True,
            env=env,
            start_new_session=True,
        )
        try:
            self.port = int(self.expect("READY")[0])
        except BaseException:
            self.kill()
            raise

    def send(self, line: str) -> None:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def expect(self, word: str) -> list[str]:
        """Wait for the engine's next line, which must start with ``word``;
        returns the rest of it."""
        line = self.proc.stdout.readline().split()
        if not line or line[0] != word:
            with open(self.log.name) as fh:
                tail = "".join(fh.readlines()[-20:])
            raise RuntimeError(f"engine said {line}, not {word}; its log ends:\n{tail}")
        return line[1:]

    def stop(self, report_path: str) -> dict:
        self.send(f"STOP {report_path}")
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=60)
        finally:
            self.kill()
        with open(report_path) as fh:
            return json.load(fh)

    def kill(self) -> None:
        """Kill whatever is left of the engine's process group (the JVM
        may outlive the Python process) and wait until all of it is gone."""
        deadline = time.time() + 30
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
            while time.time() < deadline:
                os.killpg(self.proc.pid, 0)
                self.proc.poll()
                time.sleep(0.05)
        except ProcessLookupError:
            pass
        self.proc.wait()
        self.log.close()


def p90(values: list[float]) -> float:
    """90th percentile, interpolated between the two samples around it
    (numpy's default). With the ~20 samples of a ``retract_drain`` run,
    nearest rank jumps between two neighbouring samples as the count
    changes by one; interpolation moves smoothly between them."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def run_once(workload, seed: int, seconds: int, trace: int,
             cpus: int = ENGINE_CPUS) -> dict:
    """One run of ``workload`` (a class from ``workloads.WORKLOADS``):
    returns the result line's fields plus ``detail`` (sample counts,
    box state)."""
    from layers import per_layer

    t = time.time()
    work = workload(seed, seconds)
    run_dir = os.path.join(HERE, "tmp", f"{work.name}-{work.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    tracer = Tracer(enabled=bool(trace))
    engine = None
    try:
        engine_args = work.prepare(run_dir)
        gen_s = time.time() - t
        calib = calibrate_ms()
        busy = await_quiet()

        # set-up: engine start and the workload's own set-up
        t_setup = time.time()
        engine = Engine(run_dir, engine_args, trace, cpus)
        work.set_up(engine, tracer)
        setup_s = time.time() - t_setup

        engine.send("MARK")
        t_measure = time.time()
        cpu0 = cpu_s(engine.proc.pid)
        work.run()
        engine_cpu = cpu_s(engine.proc.pid) - cpu0
        rss = peak_rss_mb(engine.proc.pid) - ENGINE_HEAP_MB
        report = engine.stop(os.path.join(run_dir, "engine-report.json"))
        engine = None
        work.check(report)
    finally:
        if engine is not None:
            engine.kill()
        shutil.rmtree(run_dir, ignore_errors=True)

    samples = work.samples_ms
    failed = len(work.errors)
    attempted = max(work.attempted, 1)
    p50 = statistics.median(samples) if samples else 0.0
    p90_ms = p90(samples) if samples else 0.0
    detail = {
        "workload": work.name,
        "seed": work.seed,
        "samples": len(samples),
        "beyond_p90": sum(1 for s in samples if s > p90_ms),
        "window_s": round(work.window_s, 3),
        "completed": work.completed,
        "box_calib_ms": round(calib, 3),
        "box_ext_busy": round(busy, 3),
        "loadgen_late_max_ms": round(work.late_max_ms, 3),
        "errors": work.errors,
        "samples_ms": [round(x) for x in samples],
    }
    if trace:
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        path = os.path.join(HERE, "out", f"{work.name}-{work.seed}-trace.json")
        with open(path, "w") as fh:
            json.dump({"engine": report, "client": tracer.spans, "detail": detail}, fh)
        metrics = per_layer(
            report, tracer, work, t_measure,
            extra={
                "session.start_s": (report["session_start_s"], "s"),
                "engine.cpu_s": (engine_cpu, "s"),
                "loadgen.gen_s": (gen_s, "s"),
                "loadgen.late_max_ms": (work.late_max_ms, "ms"),
                "box.calib_ms": (calib, "ms"),
                "box.ext_busy": (busy, "ratio"),
                "trace.latency_p50_ms": (p50, "ms"),
                "trace.setup_s": (setup_s, "s"),
            },
        )
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "latency_p50_ms": (p50, "ms"),
            "latency_p90_ms": (p90_ms, "ms"),
            "throughput_per_s": (
                work.completed / work.window_s if work.window_s else 0.0, "1/s"),
            "peak_rss_mb": (rss, "MB"),
            "heap_live_mb": (report["heap_live_mb"], "MB"),
            "success_rate": (1.0 - failed / attempted, "ratio"),
        }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "detail": detail,
    }


def _timeout(signum, frame):
    raise TimeoutError(f"run took longer than {RUN_TIMEOUT_S} s")


def _terminated(signum, frame):
    # unwinds through run_once's cleanup, which stops the engine (it
    # runs in its own session, so the signal does not reach it)
    raise SystemExit(128 + signum)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(os.getcwd(), "streamlit_flink_demo_spark")):
        print("streamlit_flink_demo_spark/ not found in the working directory: "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _terminated)
    signal.alarm(RUN_TIMEOUT_S)
    result = run_once(WORKLOADS[args.workload], args.seed, args.seconds, args.trace)
    signal.alarm(0)
    for err in result["detail"]["errors"]:
        print(f"check failed: {err}", file=sys.stderr)
    print("detail " + json.dumps(result.pop("detail")))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
