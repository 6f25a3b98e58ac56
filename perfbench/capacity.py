#!/usr/bin/env python3
"""One-off capacity notes, not part of the gated benchmark.

Runs ``dashboard_live`` traced at 0.5, 1, 1.5 and 2 files/s (40 events
per file) on 4 cores, then both streaming workloads at their usual
settings on one core (``local[1]``) as the single-threaded baseline.
Prints one JSON line per run; NOTES.md records the figures.

    python3 perfbench/capacity.py --seconds 40 --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import run_once  # noqa: E402
from workloads import DashboardLive, RetractDrain  # noqa: E402

KEYS = (
    "sources.backlog_files_max",
    "trace.latency_p50_ms",
    "microbatch.trigger_ms",
    "microbatch.batches",
    "engine.cpu_s",
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=int, default=40)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    plans = [
        (f"dashboard_live@{rate}files/s", 4,
         type("Rated", (DashboardLive,), {"period_s": 1.0 / rate}))
        for rate in (0.5, 1.0, 1.5, 2.0)
    ]
    plans += [("dashboard_live@local[1]", 1, DashboardLive),
              ("retract_drain@local[1]", 1, RetractDrain)]
    for label, cpus, cls in plans:
        result = run_once(cls, args.seed, args.seconds, trace=1, cpus=cpus)
        detail = result["detail"]
        row = {"run": label, "correct": result["correct"],
               "samples": detail["samples"], "errors": detail["errors"]}
        row.update({k: round(result["metrics"][k]["value"], 3) for k in KEYS})
        print(json.dumps(row), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
