#!/usr/bin/env python
"""Count the child processes a process starts, grouped by command.

    python tools/fork_census.py --pid N --seconds S

polls ``/proc`` for S seconds and prints one JSON object, command →
number of children of process N that appeared. In Python,
``children_started(pid, fn)`` does the same for the duration of
``fn()``. Use it on the engine's JVM (``spark._jvm.ProcessHandle
.current().pid()``) to see what the JVM forks per microbatch or write.

A child is named by the last command seen for it: a JVM child shows
``java`` before its exec and ``jspawnhelper`` during it, then the
program it runs. A poll every millisecond misses children that live
less than that, so a count is a floor, not a total.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import threading
import time
from typing import Callable


def _children(pid: int) -> dict[tuple[int, str], str]:
    """(child pid, start time) → command, for each live child of pid."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command sits in parentheses and may itself hold spaces
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2 :].split()
        if int(fields[1]) == pid:
            out[(int(name), fields[19])] = comm
    return out


def children_started(
    pid: int, fn: Callable[[], object], interval: float = 0.001
) -> dict[str, int]:
    """Run ``fn()`` and return the children of ``pid`` that started
    while it ran, as command → count. Children alive before the call
    are not counted."""
    before = set(_children(pid))
    seen: dict[tuple[int, str], str] = {}
    done = threading.Event()

    def poll() -> None:
        while True:
            last = done.is_set()
            for child, comm in _children(pid).items():
                if child not in before:
                    seen[child] = comm
            if last:
                return
            time.sleep(interval)

    poller = threading.Thread(target=poll, daemon=True)
    poller.start()
    try:
        fn()
    finally:
        done.set()
        poller.join()
    return dict(collections.Counter(seen.values()))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pid", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    counts = children_started(args.pid, lambda: time.sleep(args.seconds))
    print(json.dumps({"total": sum(counts.values()), "by_command": counts}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
