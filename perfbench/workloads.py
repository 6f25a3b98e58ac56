"""Workload inputs, their expected results, and the client loops.

Inputs are ``user`` rows (the reference's JR ``user`` shape) written as
one parquet file per release, all generated from ``--seed`` before the
engine starts. Each workload also folds its own inputs, so the client's
tables can be checked against the generator rather than against the
engine.

- ``dashboard_live``: open loop. The reference dashboard's three
  statements; one 40-event file due every 2 s (the reference's
  20 events/s), each file timed from its due time until each
  statement's client table reflects it.
- ``retract_drain``: closed loop. One statement grouping by a
  10 000-key column; each 500-event file is released once the
  client's table reflects the previous one and is timed from its
  release.

``batch_surface`` lives in ``batch.py``. Every workload has the same
steps, called by ``run.run_once``: ``prepare`` (inputs, before the
engine starts), ``set_up`` (after it starts), ``run`` (the measured
window) and ``check`` (after the engine stops).
"""

from __future__ import annotations

import math
import os
import random
import threading
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from batch import BatchSurface
from client import Subscription, Wire

EYE_COLORS = ("brown", "blue", "green")

USER_SCHEMA = pa.schema(
    [
        ("guid", pa.string()),
        ("eyeColor", pa.string()),
        ("age", pa.int32()),
        ("balance", pa.string()),
        ("name", pa.string()),
        ("registered", pa.timestamp("us", tz="UTC")),
    ]
)

# The reference dashboard's statements (dashboard.py:83, :100, :117-127).
EYE_SQL = "SELECT eyeColor, count(*) AS eye_color_count FROM `user` GROUP BY eyeColor"
MAP_SQL = """
SELECT `user`.guid,
       37.7 + (RAND() * (37.77 - 37.7)) AS latitude,
       -122.50 + (RAND() * (-122.39 - (-122.50))) AS longitude
FROM `user`
"""
AGE_SQL = """
WITH users_with_age_groups AS (
  SELECT
    CASE
      WHEN age BETWEEN 20 AND 29 THEN '20-29'
      WHEN age BETWEEN 30 AND 39 THEN '30-39'
      WHEN age BETWEEN 40 AND 49 THEN '40-49'
      WHEN age BETWEEN 50 AND 59 THEN '50-59'
      ELSE 'other'
    END AS age_group,
    CAST(substring(balance FROM 2) AS DOUBLE) AS balance_double
  FROM `user`
)
SELECT age_group, AVG(balance_double) AS avg_balance
FROM users_with_age_groups
GROUP BY age_group
"""
DRAIN_SQL = (
    "SELECT name, count(*) AS n, "
    "AVG(CAST(substring(balance FROM 2) AS DOUBLE)) AS avg_balance "
    "FROM `user` GROUP BY name"
)


def balance_double(balance: str) -> float | None:
    """Flink's (and the engine's) null-on-failure cast of
    ``substring(balance FROM 2)``: '$2,735.10' has a comma -> NULL."""
    text = balance[1:]
    return None if "," in text else float(text)


def age_group(age: int) -> str:
    for lo in (20, 30, 40, 50):
        if lo <= age <= lo + 9:
            return f"{lo}-{lo + 9}"
    return "other"


def close(a: float | None, b: float | None) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


class Inputs:
    """Seeded user rows, one list of row dicts per file."""

    def __init__(self, workload: str, seed: int):
        self.rng = random.Random(f"{workload}:{seed}")
        self.files: list[list[dict]] = []

    def user(self, name: str | None = None) -> dict:
        rng = self.rng
        cents = rng.randrange(100_00, 4000_00)
        return {
            "guid": str(uuid.UUID(int=rng.getrandbits(128))),
            "eyeColor": rng.choice(EYE_COLORS),
            "age": rng.randint(18, 65),
            "balance": f"${cents // 100:,d}.{cents % 100:02d}",
            "name": name or f"user_{rng.randrange(1_000_000):06d}",
            "registered": None,
        }

    def write(self, stage: str) -> list[str]:
        """Write every file under ``stage``; returns their paths."""
        paths = []
        for i, rows in enumerate(self.files):
            path = os.path.join(stage, f"part-{i:05d}.parquet")
            pq.write_table(pa.Table.from_pylist(rows, schema=USER_SCHEMA), path)
            paths.append(path)
        return paths


class Spool:
    """Releases pre-written files into the engine's spool directory
    with an atomic rename, recording when each one landed."""

    def __init__(self, paths: list[str], spool: str):
        self.paths = paths
        self.spool = spool
        self.released_at: list[float] = []

    def release(self, i: int) -> float:
        dest = os.path.join(self.spool, f"batch_{i:05d}.parquet")
        os.replace(self.paths[i], dest)
        now = time.time()
        self.released_at.append(now)
        return now


class Workload:
    """Common shape of the streaming workloads: ``statements`` to
    subscribe; file 0 primes them and files 1..``warmup_files`` warm
    them up (the first microbatches of a statement run several times
    slower while the JVM compiles them); measured files start at
    ``first``. ``progress(label, sub)`` is the number of files a client
    table reflects."""

    name = ""
    statements: tuple[tuple[str, str], ...] = ()
    warmup_files = 8

    @property
    def first(self) -> int:
        return 1 + self.warmup_files

    def __init__(self, seed: int, seconds: int):
        self.seed = seed
        self.seconds = seconds
        self.inputs = Inputs(self.name, seed)
        self.samples_ms: list[float] = []
        self.errors: list[str] = []
        self.attempted = 0
        self.late_max_ms = 0.0
        self.completed = 0  # input events reflected in every client table
        self.window_s = 0.0

    def prepare(self, run_dir: str) -> list[str]:
        """Writes every input file; returns the engine's arguments."""
        stage = os.path.join(run_dir, "stage")
        spool = os.path.join(run_dir, "spool")
        os.makedirs(stage)
        os.makedirs(spool)
        self.spool = Spool(self.inputs.write(stage), spool)
        return ["--spool", spool]

    def set_up(self, engine, tracer) -> None:
        """Create the statements over HTTP, then release the priming
        and warm-up files one at a time, each once every client table
        reflects the previous one."""
        wire = Wire(engine.port, tracer)
        self.subs = {}
        for label, sql in self.statements:
            name = f"{label}-{self.seed}-{os.getpid()}"
            self.subs[label] = Subscription(wire, name, sql)
            self.subs[label].create()
        for i in range(self.first):
            self.spool.release(i)
            self.wait_reflected(self.subs, i + 1, timeout=120)

    def wait_reflected(
        self, subs: dict[str, Subscription], files: int, timeout: float
    ) -> None:
        deadline = time.time() + timeout
        pending = dict(subs)
        while pending:
            for label, sub in list(pending.items()):
                sub.poll()
                if self.progress(label, sub) >= files:
                    del pending[label]
            if time.time() > deadline:
                raise TimeoutError(f"{sorted(pending)} never reflected {files} files")
            time.sleep(0.01)


class DashboardLive(Workload):
    name = "dashboard_live"
    statements = (("eye", EYE_SQL), ("map", MAP_SQL), ("age", AGE_SQL))
    period_s = 2.0
    file_events = 40
    poll_s = 0.05

    def __init__(self, seed: int, seconds: int):
        super().__init__(seed, seconds)
        self.n_files = self.first + max(2, math.ceil(seconds / self.period_s))
        inp = self.inputs
        inp.files = [
            [inp.user() for _ in range(self.file_events)]
            for _ in range(self.n_files)
        ]
        # expected client states after each file
        self.eye_states, self.age_states = [], []
        counts: dict[str, int] = {}
        sums: dict[str, list] = {}
        for rows in inp.files:
            for r in rows:
                counts[r["eyeColor"]] = counts.get(r["eyeColor"], 0) + 1
                acc = sums.setdefault(age_group(r["age"]), [0.0, 0])
                b = balance_double(r["balance"])
                if b is not None:
                    acc[0] += b
                    acc[1] += 1
            self.eye_states.append(dict(counts))
            self.age_states.append(
                {g: (s / n if n else None) for g, (s, n) in sums.items()}
            )
        self._age_done = 0

    def progress(self, label: str, sub: Subscription) -> int:
        rows = sub.table.rows
        if label == "eye":
            total = sum(n for _, n in rows)
            return total // self.file_events
        if label == "map":
            return len(rows) // self.file_events
        # age: the latest expected state the table equals
        table = dict(rows)
        for j in range(self._age_done, self.n_files):
            want = self.age_states[j]
            if table.keys() == want.keys() and all(
                close(table[g], want[g]) for g in want
            ):
                self._age_done = j + 1
        return self._age_done

    def run(self) -> None:
        """Release the measured files on a fixed schedule from a
        separate thread; poll every statement every ``poll_s`` and time
        each file per statement from its due time."""
        subs, spool = self.subs, self.spool
        t0 = time.time() + self.period_s
        due = [t0 + k * self.period_s for k in range(self.n_files - self.first)]

        def release_all():
            for i, d in enumerate(due, start=self.first):
                time.sleep(max(0.0, d - time.time()))
                late = (spool.release(i) - d) * 1000
                self.late_max_ms = max(self.late_max_ms, late)

        releaser = threading.Thread(target=release_all, daemon=True)
        releaser.start()
        seen = {label: self.first for label in subs}
        last = t0
        deadline = due[-1] + 30.0
        tick = time.time()
        while any(v < self.n_files for v in seen.values()):
            for label, sub in subs.items():
                sub.poll()
                now = time.time()
                got = self.progress(label, sub)
                for i in range(seen[label], min(got, self.n_files)):
                    self.samples_ms.append((now - due[i - self.first]) * 1000)
                    last = max(last, now)
                seen[label] = max(seen[label], got)
            if time.time() > deadline:
                self.errors.append(f"files unreflected at deadline: {seen}")
                break
            tick += self.poll_s
            time.sleep(max(0.0, tick - time.time()))
        releaser.join()
        self.attempted = len(due) * len(subs)
        # files every statement reflected; on this open loop the figure
        # confirms the offered rate is sustained rather than measuring
        # how fast the engine could go
        self.completed = (min(seen.values()) - self.first) * self.file_events
        self.window_s = last - (t0 - self.period_s)

    def check(self, report: dict) -> None:
        subs = self.subs
        eye = subs["eye"].table.rows
        if len(eye) != len({c for c, _ in eye}) or dict(eye) != self.eye_states[-1]:
            self.errors.append(f"eye table {sorted(eye)} != {self.eye_states[-1]}")
        age = subs["age"].table.rows
        want = self.age_states[-1]
        got = dict(age)
        if len(age) != len(got) or got.keys() != want.keys() or not all(
            close(got[g], want[g]) for g in want
        ):
            self.errors.append(f"age table {sorted(age)} != {want}")
        guids = [r["guid"] for rows in self.inputs.files for r in rows]
        rows = subs["map"].table.rows
        if sorted(r[0] for r in rows) != sorted(guids):
            self.errors.append("map guids differ from the generated guids")
        bad = [
            r for r in rows
            if not (37.7 <= r[1] < 37.77 and -122.50 <= r[2] < -122.39)
        ]
        if bad:
            self.errors.append(f"{len(bad)} map rows outside the RAND() ranges")
        # +I per map row; one +I or -U/+U pair per colour per file
        want_eye = 0
        prev: dict[str, int] = {}
        for state in self.eye_states:
            want_eye += sum(
                (2 if c in prev else 1) for c in state if state[c] != prev.get(c)
            )
            prev = state
        got_eye = len(subs["eye"].changelog.history)
        if got_eye != want_eye:
            self.errors.append(f"eye records {got_eye} != {want_eye}")
        got_map = len(subs["map"].changelog.history)
        if got_map != len(guids):
            self.errors.append(f"map records {got_map} != {len(guids)}")


class RetractDrain(Workload):
    name = "retract_drain"
    statements = (("drain", DRAIN_SQL),)
    keys = 10_000
    file_events = 500
    warmup_files = 5
    # files are generated up front, enough for one every 0.1 s: well
    # below today's 0.5-1.5 s cycle, so a faster engine still meets a
    # window of fixed length (running out is a failed check)
    min_cycle_s = 0.1

    def __init__(self, seed: int, seconds: int):
        super().__init__(seed, seconds)
        inp = self.inputs
        names = [f"user_{k:05d}" for k in range(self.keys)]
        inp.rng.shuffle(names)
        inp.files = [[inp.user(n) for n in names]]
        for _ in range(self.warmup_files + math.ceil(seconds / self.min_cycle_s)):
            inp.files.append(
                [inp.user(inp.rng.choice(names)) for _ in range(self.file_events)])
        self.cum_events = [0]
        for rows in inp.files:
            self.cum_events.append(self.cum_events[-1] + len(rows))
        self.files_done = 0

    def progress(self, label: str, sub: Subscription) -> int:
        total = sum(r[1] for r in sub.table.rows)
        return self.cum_events.index(total) if total in self.cum_events else -1

    def run(self) -> None:
        sub, spool = self.subs["drain"], self.spool
        total = sum(r[1] for r in sub.table.rows)
        start = time.time()
        i = self.first
        while time.time() - start < self.seconds:
            if i == len(self.inputs.files):
                self.errors.append("input ran out before the window ended")
                break
            released = spool.release(i)
            target = self.cum_events[i + 1]
            deadline = released + 60.0
            while total != target:
                new = sub.poll()
                for rec in new:
                    n = rec["row"][1]
                    total += n if rec["op"] in (0, 2) else -n
                if not new:
                    if time.time() > deadline:
                        self.errors.append(f"file {i} unreflected after 60 s")
                        return
                    time.sleep(0.005)
            self.samples_ms.append((time.time() - released) * 1000)
            self.completed += len(self.inputs.files[i])
            i += 1
        self.files_done = i - 1
        self.attempted = i - self.first
        self.window_s = time.time() - start

    def check(self, report: dict) -> None:
        sub = self.subs["drain"]
        files = self.inputs.files[: self.files_done + 1]
        want: dict[str, list] = {}
        records = 0
        for k, rows in enumerate(files):
            touched = set()
            for r in rows:
                acc = want.setdefault(r["name"], [0, 0.0, 0])
                acc[0] += 1
                b = balance_double(r["balance"])
                if b is not None:
                    acc[1] += b
                    acc[2] += 1
                touched.add(r["name"])
            records += len(touched) * (1 if k == 0 else 2)
        rows = sub.table.rows
        got = {r[0]: r for r in rows}
        if len(got) != len(rows):
            self.errors.append(f"{len(rows) - len(got)} duplicate keys in the table")
        if got.keys() != want.keys():
            self.errors.append("table keys differ from the generated keys")
        wrong = [
            k for k, (n, s, v) in want.items()
            if k in got
            and (got[k][1] != n or not close(got[k][2], s / v if v else None))
        ]
        if wrong:
            self.errors.append(f"{len(wrong)} keys with a wrong count or average")
        if len(sub.changelog.history) != records:
            self.errors.append(
                f"changelog records {len(sub.changelog.history)} != {records}")


WORKLOADS = {w.name: w for w in (DashboardLive, RetractDrain, BatchSurface)}
