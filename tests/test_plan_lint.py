"""plans/lint.py: each rule fires on a constructed offender, stays
quiet on the clean twin, and the engine's own hot paths pass the
error gate."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from streamlit_flink_demo_spark.plans import load_all
from streamlit_flink_demo_spark.plans.lint import errors, lint_plan

REG = load_all(exposed_only=False)


def _rules(findings):
    return {f.rule for f in findings}


def test_cartesian_product_detected(spark):
    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    bad = a.crossJoin(b.hint("shuffle_replicate_nl"))
    assert "cartesian-product" in _rules(lint_plan(bad))
    assert errors(lint_plan(bad))


def test_rowwise_python_udf_detected_arrow_is_info(spark):
    rowwise = F.udf(lambda x: x + 1, "bigint", useArrow=False)

    @F.pandas_udf("long")
    def arrow(s: pd.Series) -> pd.Series:
        return s + 1

    df = spark.range(10)
    bad = df.select(rowwise("id").alias("v"))
    good = df.select(arrow("id").alias("v"))
    assert "rowwise-python-udf" in _rules(lint_plan(bad))
    assert errors(lint_plan(bad))
    g = lint_plan(good)
    assert "rowwise-python-udf" not in _rules(g)
    assert "arrow-python" in _rules(g)
    assert not errors(g)


def test_nested_loop_join_warned_and_allowable(spark):
    a = spark.range(10)
    b = spark.range(3).withColumnRenamed("id", "id2")
    nlj = a.join(F.broadcast(b), F.col("id") > F.col("id2"))
    assert "nested-loop-join" in _rules(lint_plan(nlj))
    assert "nested-loop-join" not in _rules(
        lint_plan(nlj, allow=("nested-loop-join",))
    )
    assert not errors(lint_plan(nlj))  # warning, not error


def test_shuffle_join_and_exchange_info(spark):
    a = spark.range(100000)
    b = spark.range(100000).withColumn("v", F.col("id") * 2)
    j = a.join(b.hint("merge"), "id")
    rules = _rules(lint_plan(j))
    assert "shuffle-join" in rules
    assert "exchange-count" in rules


def test_unpushed_filter_detected(spark, sf_dir, tmp_path):
    clean = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") > 5)
    )
    assert "unpushed-filter" not in _rules(lint_plan(clean))
    # a Python-UDF predicate cannot push down -> scan reads everything
    pred = F.udf(lambda x: x > 5, "boolean", useArrow=False)
    dirty = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        pred(F.col("doc_id"))
    )
    assert "unpushed-filter" in _rules(lint_plan(dirty))


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "dedup_minhash_lsh",
        "ann_ivfpq_topk",
        "docs_bpe_tokenize",
        # round-10 third session
        "docs_hybrid_search_rrf",
        "docs_kcenter_diverse",
        "docs_weighted_sample",
        "docs_ccnet_buckets",
        "ann_recall_eval",
        "ann_lsh_multiprobe_topk",
        "docs_chunk_overlap",
        "docs_chunk_embed_search",
        "ann_filtered_topk",
        "dedup_minhash_calibration",
        "docs_leakage_safe_split",
        # round-10 fourth session
        "docs_logreg_classifier",
        "events_zorder_skipping",
        "contamination_capsort_exact",
        "dedup_span_rewrite_gramgroup",
        # round 11
        "docs_chunk_ann_search",
        "docs_chunk_ann_multiprobe",
        "docs_chunk_ann_recall",
        "dedup_span_rewrite_delta_gramidx",
        "ann_lsh_tombstone_topk",
        "ann_ivf_tombstone_topk",
        "docs_kcenter_sampled",
        "dedup_cdc_chunks",
        "dedup_cdc_incremental",
        "dedup_minhash_yield_curve",
        "ann_ndcg_eval",
        # round 13
        "docs_host_rank",
        "docs_recrawl_schedule",
        "docs_crawl_plan",
    ],
)
def test_engine_hot_paths_pass_the_error_gate(spark, sf_dir, name):
    df = REG[name].fn(spark, sf_dir)
    assert errors(lint_plan(df)) == []
