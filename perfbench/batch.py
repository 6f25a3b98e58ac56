"""``batch_surface``: registered batch queries submitted one at a time.

The engine process (``engine.py --batch``) runs ``serve``: it submits a
fixed set of exposed registry queries over the seeded tables of
``batchdata.py``. In each cycle every query is submitted
``1 + CACHED_REPEATS`` times in a row: the first submission builds its
plan (the prepared-plan cache is cleared before it), the others are
dispatched from that cache. A submission is the registry call plus
``collect()``. Set-up submits every query once, then runs one cycle;
the measured window runs whole cycles, each in a fresh seeded order,
and ends at the cycle boundary nearest ``seconds``, so every run's
samples hold each query in the same proportion.

Every submission's rows must equal the first answer of the same query
in the same run. The parent process (``BatchSurface``) checks those
first answers against the registry's DuckDB oracle on the same files.
"""

from __future__ import annotations

import json
import math
import os
import pickle
import random
import time

import batchdata

# A fixed slice of the 50 exposed queries that runs in about seven
# seconds a cycle: TPC-H plans (plans/tpch, tpch3), the reference
# dashboard's CASE/AVG shape (plans/reference), sessionization
# (plans/analytics) and operator-backed queries (operators/pipeline,
# operators/similarity).
QUERIES = (
    "q1_pricing_summary",
    "q6_revenue_forecast",
    "q12_priority_by_linestatus",
    "ref_case_groups_avg",
    "events_sessionized",
    "docs_quality_dedup_yield",
    "ann_cosine_topk",
)
# Cache-hit submissions after each plan build. With one, half the
# samples are builds and the median falls on the gap between the two
# kinds; with three, the median lies among cache hits and the 90th
# percentile among builds.
CACHED_REPEATS = 3


def canon(rows, columns) -> list[tuple]:
    """Columns sorted by name, then rows sorted; NaN made comparable."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v

    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return out


def serve(spark, data_dir: str, spec: dict, mark) -> dict:
    """Engine side: set-up, then the measured window. Prints ``SET``
    when set-up is done and ``MEASURED`` when the window is over;
    writes each query's first answer to ``spec["answers"]``. ``mark()``
    is called as the window opens; its value is returned as ``mark``.
    Each measured submission is returned as a record of its query,
    kind, cycle, start, registry-call time (``dispatch_ms``) and total
    time (``ms``, registry call plus ``collect()``): the span of that
    submission and of its two layer boundaries."""
    from streamlit_flink_demo_spark.plans import clear_plan_cache, load_all

    reg = load_all()
    answers: dict[str, tuple] = {}
    samples: list[dict] = []
    errors: list[str] = []
    attempted = 0

    def submit(name: str, kind: str, cycle: int) -> None:
        nonlocal attempted
        attempted += 1
        spark.sparkContext.setJobGroup(f"{name}:{cycle}:{kind}", name)
        start = time.time()
        try:
            t0 = time.perf_counter()
            df = reg[name].fn(spark, data_dir)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
        except Exception as ex:  # a failed submission is counted, not fatal
            errors.append(f"{name} ({kind}, cycle {cycle}): {str(ex)[:300]}")
            return
        got = (sorted(df.columns), canon(rows, df.columns))
        first = answers.setdefault(name, got)
        if got != first:
            errors.append(f"{name} ({kind}, cycle {cycle}): answer differs from "
                          "the first answer of this run")
        elif cycle >= 0:
            samples.append({"name": name, "kind": kind, "cycle": cycle,
                            "start": start, "dispatch_ms": (t1 - t0) * 1000,
                            "ms": (t2 - t0) * 1000})

    def burst(name: str, cycle: int) -> None:
        clear_plan_cache()
        submit(name, "build", cycle)
        for _ in range(CACHED_REPEATS):
            submit(name, "cached", cycle)
        spark.catalog.clearCache()

    # set-up: a pass of builds (codegen, JIT, parquet footers), then one
    # whole cycle: the first cycle after the builds alone still ran
    # 8-15% slower than the cycles after it
    for name in QUERIES:
        clear_plan_cache()
        submit(name, "build", -1)
        spark.catalog.clearCache()
    for name in QUERIES:
        burst(name, -1)
    print("SET", flush=True)
    marked = mark()

    rng = random.Random(f"batch_surface:{spec['seed']}:order")
    start = time.time()
    cycle = 0
    cycle_s = 0.0
    # stop at the cycle boundary nearest ``seconds``, judged by the
    # length of the cycle just run
    while cycle == 0 or time.time() - start + cycle_s / 2 < spec["seconds"]:
        t_cycle = time.time()
        order = list(QUERIES)
        rng.shuffle(order)
        for name in order:
            burst(name, cycle)
        cycle_s = time.time() - t_cycle
        cycle += 1
    window_s = time.time() - start
    with open(spec["answers"], "wb") as fh:
        pickle.dump(answers, fh)
    print("MEASURED", flush=True)
    return {"samples": samples, "errors": errors,
            "attempted": attempted, "window_s": window_s, "cycles": cycle,
            "mark": marked}


def same(a: list[tuple], b: list[tuple]) -> bool:
    """Row lists equal, floating-point values to 1e-9 relative."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or isinstance(x, str) or isinstance(y, str):
                    if x != y:
                        return False
                elif not math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-12):
                    return False
            elif x != y:
                return False
    return True


class BatchSurface:
    """Parent side of ``batch_surface``: writes the tables, hands the
    engine its spec, and checks the answers against DuckDB."""

    name = "batch_surface"
    late_max_ms = 0.0

    def __init__(self, seed: int, seconds: int):
        self.seed = seed
        self.seconds = seconds
        self.samples_ms: list[float] = []
        self.errors: list[str] = []
        self.attempted = 0
        self.completed = 0  # submissions
        self.window_s = 0.0

    def prepare(self, run_dir: str) -> list[str]:
        """Writes the seeded tables; returns the engine's arguments."""
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        batchdata.write(self.seed, self.data_dir)
        return ["--batch", self.data_dir]

    def set_up(self, engine, tracer) -> None:
        self.engine = engine
        self.answers_path = os.path.join(self.run_dir, "answers.pkl")
        spec_path = os.path.join(self.run_dir, "spec.json")
        with open(spec_path, "w") as fh:
            json.dump({"seed": self.seed, "seconds": self.seconds,
                       "answers": self.answers_path}, fh)
        engine.send(f"RUN {spec_path}")
        engine.expect("SET")

    def run(self) -> None:
        self.engine.expect("MEASURED")

    def check(self, report: dict) -> None:
        import duckdb

        from streamlit_flink_demo_spark.plans import load_all
        from streamlit_flink_demo_spark.sources.catalog import TABLES, table_path

        b = report["batch"]
        self.samples_ms = [s["ms"] for s in b["samples"]]
        self.completed = len(b["samples"])
        self.attempted = b["attempted"]
        self.window_s = b["window_s"]
        self.errors.extend(b["errors"])
        with open(self.answers_path, "rb") as fh:
            answers = pickle.load(fh)
        reg = load_all()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{table_path(self.data_dir, t)}')")
        for name in QUERIES:
            if name not in answers:
                self.errors.append(f"{name}: no answer")
                continue
            res = con.execute(reg[name].oracle)
            cols = [d[0] for d in res.description]
            want = (sorted(cols), canon(res.fetchall(), cols))
            got = answers[name]
            if got[0] != want[0] or not same(got[1], want[1]):
                self.errors.append(f"{name}: answer differs from the DuckDB oracle")
        con.close()
