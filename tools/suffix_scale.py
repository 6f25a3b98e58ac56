#!/usr/bin/env python
"""Honest CONSTRUCTION scaling for build-at-plan-time operators.

The generic sweep harness (tools/scale_sweep.py) best-of-2 reports the
post-build probe floor for operators whose iterative construction runs
at plan-build time behind eager localCheckpoints (suffix arrays, span
rewrites). This harness clears the plan cache and the block manager
before EVERY rep, so each timed window contains the full construction
— the SCALE.md "construction" methodology from round 9.

Usage: SUFFIX_SCALE_OPS=a,b python tools/suffix_scale.py
Env:   SUFFIX_SCALE_REPS (default 2), SPARK_GRAFT_SF_DIR (base),
       SCALE_SWEEP_DIR (replica dir; generated by scale_sweep.py),
       SUFFIX_SCALE_TAG (replica label, default "x10" — set "x100"
       when SCALE_SWEEP_DIR holds factor-100 replicas)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OPS = (
    "corpus_suffix_array",
    "corpus_suffix_array_sharded",
    "corpus_longest_repeat",
    "corpus_longest_repeat_sharded",
    "corpus_suffix_array_append",
    "corpus_distinct_substrings",
    "dedup_span_rewrite_gramgroup",
    "contamination_capsort_exact",
    "docs_logreg_classifier",
)


def main() -> int:
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    dst = os.environ.get("SCALE_SWEEP_DIR", "/tmp/scale10")
    reps = int(os.environ.get("SUFFIX_SCALE_REPS", "2"))
    tag_hi = os.environ.get("SUFFIX_SCALE_TAG", "x10")
    ops = tuple(
        o.strip()
        for o in os.environ.get("SUFFIX_SCALE_OPS", "").split(",")
        if o.strip()
    ) or OPS
    if not os.path.exists(os.path.join(dst, "documents.parquet")):
        print(f"no 10x replicas at {dst}; run tools/scale_sweep.py first",
              file=sys.stderr)
        return 2

    from streamlit_flink_demo_spark.plans import clear_plan_cache, load_all
    from streamlit_flink_demo_spark.session import get_spark

    spark = get_spark("suffix_scale")
    reg = load_all(exposed_only=False)
    spark.read.parquet(os.path.join(src, "region.parquet")).count()

    out = {}
    for name in ops:
        row = {}
        for tag, d in (("base", src), (tag_hi, dst)):
            best = None
            for _ in range(reps):
                clear_plan_cache()
                # the SA session memo shares one construction across
                # the five suffix-family queries — clear it too, or
                # every rep after the first times a probe, not a build
                from streamlit_flink_demo_spark.operators.suffix import (
                    clear_suffix_memo,
                )

                clear_suffix_memo()
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                reg[name].fn(spark, d).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            row[tag] = round(best, 2)
        row["ratio"] = (
            round(row[tag_hi] / row["base"], 1) if row["base"] else None
        )
        out[name] = row
        print(f"  {name}: {row}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": f"suffix_construction_{tag_hi}",
                "operators": out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
