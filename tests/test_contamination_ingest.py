"""Streaming ingest-time contamination screening: stream flags equal
the batch-computed flags (stream ≡ batch), the per-position counts
equal the exact batch operator's counts (two independent algorithms,
one answer), planted leaks are caught, clean docs pass,
and delivery is exactly-once across a restart."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def split(spark, sf_dir):
    """(train_docs, eval_docs): the engine's standard 90/10 hash split."""
    from streamlit_flink_demo_spark.functions.hashing import u60
    from streamlit_flink_demo_spark.sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = u60(F.col("doc_id").cast("string")) % 100
    return d.filter(bucket < 90), d.filter(bucket >= 90)


def _spool_batches(spark, spool: str, parts, schema=None) -> None:
    os.makedirs(spool, exist_ok=True)
    for i, part in enumerate(parts):
        part_path = os.path.join(spool, f"b{i:04d}.parquet")
        staging = os.path.join(spool, f"_s{i}")
        df = (
            spark.createDataFrame(part, schema)
            if schema is not None
            else spark.createDataFrame(part)
        )
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        f = next(x for x in os.listdir(staging) if x.endswith(".parquet"))
        os.replace(os.path.join(staging, f), part_path)


def _doc_stream(spark, spool: str):
    return (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(spool)
    )


def test_stream_flags_equal_batch_flags(spark, tmp_path, split):
    from streamlit_flink_demo_spark.sinks import IdempotentParquetSink
    from streamlit_flink_demo_spark.streaming.contamination_ingest import (
        attach_contamination_stream,
        contamination_flags_batch,
        corpus_train_grams,
    )

    train, ev = split
    spool = str(tmp_path / "spool")
    pdf = ev.toPandas().sort_values("doc_id")
    half = len(pdf) // 2
    _spool_batches(spark, spool, (pdf.iloc[:half], pdf.iloc[half:]))

    flags_path = str(tmp_path / "flags")
    summaries: list[dict] = []
    q = attach_contamination_stream(
        _doc_stream(spark, spool),
        train,
        flags_path,
        on_summary=summaries.append,
        checkpoint_dir=str(tmp_path / "ck"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["doc_id"]: (
            r["n_positions"],
            r["n_contaminated_positions"],
            r["contaminated"],
        )
        for r in IdempotentParquetSink(flags_path)
        .read_committed(spark)
        .collect()
    }

    want = {
        r["doc_id"]: (
            r["n_positions"],
            r["n_contaminated_positions"],
            r["contaminated"],
        )
        for r in contamination_flags_batch(
            ev, corpus_train_grams(train)
        ).collect()
    }
    assert got == want
    assert sum(s["n_docs"] for s in summaries) == len(want)
    assert sum(s["n_flagged"] for s in summaries) == sum(
        1 for v in want.values() if v[2]
    )


def test_gram_counts_equal_suffix_array_counts(spark, sf_dir, split):
    """Two independent algorithms, one answer: the gram-probe position
    count per eval doc equals contamination_capsort_exact's
    nearest-train scan over the sorted 64-char windows, whose rows the
    brute-force suffix-array oracle pins (a position matches ≥ T chars
    of some train doc ⟺ its T-gram is in the train gram set)."""
    from streamlit_flink_demo_spark.operators.suffix import (
        contamination_capsort_exact,
    )
    from streamlit_flink_demo_spark.streaming.contamination_ingest import (
        contamination_flags_batch,
        corpus_train_grams,
    )

    train, ev = split
    probe = {
        r["doc_id"]: r["n_contaminated_positions"]
        for r in contamination_flags_batch(
            ev, corpus_train_grams(train)
        ).collect()
    }
    exact = {
        r["doc_id"]: r["n_contaminated_positions"]
        for r in contamination_capsort_exact(spark, sf_dir).collect()
    }
    # the batch operator drops zero-length docs; the probe includes
    # them (zero positions, clean) — compare on the batch's doc set
    assert exact and all(probe[k] == v for k, v in exact.items())


def test_planted_leak_is_caught(spark, tmp_path, split):
    from streamlit_flink_demo_spark.sinks import IdempotentParquetSink
    from streamlit_flink_demo_spark.streaming.contamination_ingest import (
        attach_contamination_stream,
    )

    train, _ = split
    src = train.filter(F.length("text") >= 40).limit(1).collect()[0]
    rows = [
        # 40 verbatim chars from a train doc embedded in novel text
        (970001, "completely fresh prefix " + src["text"][:40] + " and a tail"),
        # clean: no 24-char run shared with anything
        (970002, " ".join(f"zq{i}x" for i in range(40))),
        # too short to contain any 24-gram: clean by definition
        (970003, "tiny"),
    ]
    spool = str(tmp_path / "spool")
    _spool_batches(spark, spool, [rows], schema="doc_id long, text string")

    flags_path = str(tmp_path / "flags")
    q = attach_contamination_stream(
        _doc_stream(spark, spool), train, flags_path
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: (r["n_contaminated_positions"], r["contaminated"])
        for r in IdempotentParquetSink(flags_path)
        .read_committed(spark)
        .collect()
    }
    assert got[970001][1] is True
    # a 40-char verbatim copy contains exactly 40-24+1 = 17 leaked grams
    assert got[970001][0] == 17
    assert got[970002] == (0, False)
    assert got[970003] == (0, False)


def test_flags_exactly_once_across_restart(spark, tmp_path, split):
    from streamlit_flink_demo_spark.sinks import IdempotentParquetSink
    from streamlit_flink_demo_spark.streaming.contamination_ingest import (
        attach_contamination_stream,
    )

    train, _ = split
    spool = str(tmp_path / "spool")
    ck = str(tmp_path / "ck")
    flags_path = str(tmp_path / "flags")
    rows0 = [
        (980001, "alpha beta gamma delta epsilon zeta eta theta"),
        (980002, "iota kappa lambda mu nu xi omicron pi rho"),
    ]
    _spool_batches(spark, spool, [rows0], schema="doc_id long, text string")

    summaries: list[dict] = []
    q = attach_contamination_stream(
        _doc_stream(spark, spool),
        train,
        flags_path,
        on_summary=summaries.append,
        checkpoint_dir=ck,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    sink = IdempotentParquetSink(flags_path)
    assert set(sink.committed_ids())
    n_first = len(summaries)

    staging = os.path.join(spool, "_s9")
    spark.createDataFrame(
        [(980003, "sigma tau upsilon phi chi psi omega extra")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(staging)
    f = next(x for x in os.listdir(staging) if x.endswith(".parquet"))
    os.replace(os.path.join(staging, f), os.path.join(spool, "b9999.parquet"))

    q2 = attach_contamination_stream(
        _doc_stream(spark, spool),
        train,
        flags_path,
        on_summary=summaries.append,
        checkpoint_dir=ck,
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    flags = sink.read_committed(spark).collect()
    assert len(flags) == 3  # 2 + 1, no replay duplicates
    assert {r["doc_id"] for r in flags} == {980001, 980002, 980003}
    # the replayed batch's summary did not re-fire
    assert len(summaries) == n_first + 1


def test_hot_path_has_no_flag_collect():
    """The ingest hot path must not collect flag rows on the driver
    (same pin as dedup_ingest — only the one-row summary aggregate)."""
    import inspect

    from streamlit_flink_demo_spark.streaming import contamination_ingest

    src = inspect.getsource(
        contamination_ingest.attach_contamination_stream
    )
    assert "flags.collect()" not in src
    assert "IdempotentParquetSink" in inspect.getsource(contamination_ingest)
