"""The shared ingest runner (streaming/ingest.py).

- A compaction that folds a batch directory away between the sink's
  commit and the summary read must not kill the query: every pipeline
  whose batch function does not read its own sink back falls back to
  the batch plan, and the summary still equals the batch-plan
  aggregate.
- The unpersist-on-termination listener empties the session's cache
  manager when the query stops (in-session corpus frames, and the live
  list artifact-mode near-dup swaps on re-resolve), then removes
  itself.
"""

from __future__ import annotations

import os
import shutil
import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryManager

from streamlit_flink_demo_spark.sinks import IdempotentParquetSink

_DOCS = "doc_id long, text string"
_CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank "
        "while the farmer watches from the old wooden fence"),
    (2, "structured streaming lands each micro batch exactly once through "
        "an idempotent sink keyed by the batch id"),
]
_BATCH = [
    (10, "prefix the quick brown fox jumps over the lazy dog near the "
         "river bank while the farmer watches from the old wooden fence"),
    (11, "completely unrelated words about gardening tomatoes and basil "
         "in a small sunny backyard plot"),
    (12, "tiny"),
]


def _spool(spark, spool, n, rows, schema):
    os.makedirs(spool, exist_ok=True)
    staging = os.path.join(spool, f"_s{n}")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(staging)
    f = next(x for x in os.listdir(staging) if x.endswith(".parquet"))
    os.replace(os.path.join(staging, f), os.path.join(spool, f"b{n:04d}.parquet"))


def _stream(spark, spool, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(spool)
    )


def _corpus(spark):
    return spark.createDataFrame(_CORPUS, _DOCS)


# --------------------------------------------------------------------------
# Each case: (schema, batches, attach(spark, stream, out, on_summary, ck),
# want(spark, static_batch_rows) -> the summary fields the batch plan
# gives). Stateless pipelines get one batch; trending gets two files so
# the watermark closes a window, and its summaries are compared as
# totals.
# --------------------------------------------------------------------------


def _contamination():
    from streamlit_flink_demo_spark.streaming.contamination_ingest import (
        attach_contamination_stream,
        contamination_flags_batch,
        corpus_train_grams,
    )

    def attach(spark, stream, out, on_summary, ck):
        return attach_contamination_stream(
            stream, _corpus(spark), out, on_summary=on_summary,
            checkpoint_dir=ck,
        )

    def want(spark, docs):
        rows = contamination_flags_batch(
            docs, corpus_train_grams(_corpus(spark))
        ).collect()
        return {
            "n_docs": len(rows),
            "n_flagged": sum(r["contaminated"] for r in rows),
        }

    return _DOCS, [_BATCH], attach, want


def _extract():
    from streamlit_flink_demo_spark.streaming.extract_ingest import (
        attach_extract_stream,
        extract_batch,
    )

    html = [
        (1, "<html><body><p>A real paragraph of article text that is "
            "long enough for the extractor to keep it.</p></body></html>"),
        (2, "<html><body><nav><a href='/'>home</a></nav></body></html>"),
    ]

    def attach(spark, stream, out, on_summary, ck):
        return attach_extract_stream(
            stream, out, on_summary=on_summary, checkpoint_dir=ck
        )

    def want(spark, docs):
        rows = extract_batch(docs).collect()
        return {
            "n_docs": len(rows),
            "n_boilerplate_only": sum(r["n_lines_kept"] == 0 for r in rows),
            "chars_kept": sum(len(r["extract_text"] or "") for r in rows),
        }

    return "doc_id long, html string", [html], attach, want


def _cdc():
    from streamlit_flink_demo_spark.operators.dedup import (
        cdc_coverage_batch,
        cdc_hash_rows,
    )
    from streamlit_flink_demo_spark.streaming.cdc_ingest import (
        attach_cdc_coverage_stream,
    )

    def attach(spark, stream, out, on_summary, ck):
        return attach_cdc_coverage_stream(
            stream, _corpus(spark), out, on_summary=on_summary,
            checkpoint_dir=ck,
        )

    def want(spark, docs):
        rows = cdc_coverage_batch(
            docs, cdc_hash_rows(_corpus(spark))
        ).collect()
        return {
            "n_docs": len(rows),
            "n_chunks": sum(r["n_chunks"] for r in rows),
            "dup_chars": sum(r["dup_chars"] for r in rows),
        }

    return _DOCS, [_BATCH], attach, want


def _near_dup():
    from streamlit_flink_demo_spark.operators.dedup import (
        _band_keys_col,
        minhash_signatures,
    )
    from streamlit_flink_demo_spark.streaming.dedup_ingest import (
        attach_near_dup_stream,
        near_dup_flags_batch,
    )

    def attach(spark, stream, out, on_summary, ck):
        return attach_near_dup_stream(
            stream, _corpus(spark), out, on_summary=on_summary,
            checkpoint_dir=ck,
        )

    def want(spark, docs):
        sigs = minhash_signatures(_corpus(spark))
        bands = sigs.select(
            F.col("doc_id").alias("old_doc"),
            F.explode(_band_keys_col()).alias("band_key"),
        )
        rows = near_dup_flags_batch(docs, sigs, bands).collect()
        return {
            "n_docs": len(rows),
            "n_flagged": sum(r["dup_of"] is not None for r in rows),
        }

    return _DOCS, [_BATCH], attach, want


def _semantic():
    from streamlit_flink_demo_spark.streaming.dedup_ingest import (
        attach_semantic_dedup_stream,
        corpus_embedding_buckets,
        semantic_dup_flags_batch,
    )

    def attach(spark, stream, out, on_summary, ck):
        return attach_semantic_dedup_stream(
            stream, _corpus(spark), out, on_summary=on_summary,
            checkpoint_dir=ck,
        )

    def want(spark, docs):
        rows = semantic_dup_flags_batch(
            docs, corpus_embedding_buckets(_corpus(spark))
        ).collect()
        return {
            "n_docs": len(rows),
            "n_flagged": sum(r["dup_of"] is not None for r in rows),
        }

    return _DOCS, [_BATCH], attach, want


def _span():
    from streamlit_flink_demo_spark.streaming.span_ingest import (
        attach_span_rewrite_stream,
        corpus_span_index,
        span_rewrite_batch,
    )

    def attach(spark, stream, out, on_summary, ck):
        return attach_span_rewrite_stream(
            stream, _corpus(spark), out, on_summary=on_summary,
            checkpoint_dir=ck,
        )

    def want(spark, docs):
        rows = span_rewrite_batch(
            docs, corpus_span_index(_corpus(spark))
        ).collect()
        return {
            "n_docs": len(rows),
            "n_rewritten": sum(r["n_spans_removed"] > 0 for r in rows),
            "chars_removed": sum(r["chars_removed"] for r in rows),
        }

    return _DOCS, [_BATCH], attach, want


def _vector():
    from streamlit_flink_demo_spark.streaming.vector_ingest import (
        attach_vector_ingest,
        chunk_embed_rows,
    )

    def attach(spark, stream, out, on_summary, ck):
        return attach_vector_ingest(
            stream, out, on_summary=on_summary, checkpoint_dir=ck
        )

    def want(spark, docs):
        rows = chunk_embed_rows(docs).collect()
        return {
            "n_chunks": len(rows),
            "n_docs": len({r["doc_id"] for r in rows}),
            "n_empty": sum(r["n_tokens"] == 0 for r in rows),
        }

    return _DOCS, [_BATCH], attach, want


def _trending():
    from streamlit_flink_demo_spark.streaming.trending import (
        attach_trending_stream,
        topk_per_window,
        windowed_term_counts,
    )

    def ts(h, m):
        return datetime(2024, 1, 1, h, m)

    b0 = [(ts(0, 5), "spark spark stream"), (ts(0, 20), "spark join")]
    b1 = [(ts(1, 10), "flink flink state"), (ts(2, 30), "advance")]

    def attach(spark, stream, out, on_summary, ck):
        return attach_trending_stream(
            stream, out, on_summary=on_summary, checkpoint_dir=ck, topk=2
        )

    def want(spark, docs):
        # the watermark (02:30 - 1 h) closes the hour-0 window only
        rows = [
            r
            for r in topk_per_window(windowed_term_counts(docs), 2).collect()
            if r["window_end"] <= ts(1, 30)
        ]
        return {
            "n_windows": len({r["window_start"] for r in rows}),
            "n_rows": len(rows),
            "max_count": max(r["n"] for r in rows),
        }

    return "ts timestamp, text string", [b0, b1], attach, want


def _totals(summaries):
    """Trending's summaries summed over batches (zero-row batches carry
    ``max_count`` None)."""
    return {
        "n_windows": sum(s["n_windows"] for s in summaries),
        "n_rows": sum(s["n_rows"] for s in summaries),
        "max_count": max(
            (s["max_count"] for s in summaries if s["max_count"] is not None),
            default=None,
        ),
    }


_CASES = {
    "contamination": _contamination,
    "extract": _extract,
    "cdc": _cdc,
    "near_dup": _near_dup,
    "semantic": _semantic,
    "span": _span,
    "vector": _vector,
    "trending": _trending,
}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_summary_survives_batch_dir_folded_after_commit(
    spark, tmp_path, monkeypatch, case
):
    schema, batches, attach, want = _CASES[case]()
    real_call = IdempotentParquetSink.__call__

    def commit_then_fold(self, batch_df, batch_id):
        # a compact_sink that folds the batch directory away right
        # after the commit, before the summary reads it
        status = real_call(self, batch_df, batch_id)
        if status == "committed":
            shutil.rmtree(self.batch_dir(batch_id))
        return status

    monkeypatch.setattr(IdempotentParquetSink, "__call__", commit_then_fold)

    spool = str(tmp_path / "spool")
    for n, rows in enumerate(batches):
        _spool(spark, spool, n, rows, schema)
    summaries: list[dict] = []
    q = attach(
        spark,
        _stream(spark, spool, schema),
        str(tmp_path / "out"),
        summaries.append,
        str(tmp_path / "ck"),
    )
    try:
        q.processAllAvailable()
        assert q.isActive and q.exception() is None
    finally:
        q.stop()

    everything = [r for rows in batches for r in rows]
    expected = want(spark, spark.createDataFrame(everything, schema))
    if case == "trending":
        assert _totals(summaries) == expected
    else:
        assert summaries == [{"batch_id": 0, **expected}]


# --------------------------------------------------------------------------
# The unpersist-on-termination listener
# --------------------------------------------------------------------------


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _n_listeners(spark) -> int:
    return len(spark._jsparkSession.streams().listListeners())


@pytest.fixture()
def listener_log(spark, monkeypatch):
    """Start from an empty cache; record the listeners added and
    removed through the Python StreamingQueryManager."""
    spark.catalog.clearCache()
    log = {"added": [], "removed": [], "jvm_before": _n_listeners(spark)}
    add, remove = (
        StreamingQueryManager.addListener,
        StreamingQueryManager.removeListener,
    )

    def add_logged(self, listener):
        log["added"].append(listener)
        return add(self, listener)

    def remove_logged(self, listener):
        log["removed"].append(listener)
        return remove(self, listener)

    monkeypatch.setattr(StreamingQueryManager, "addListener", add_logged)
    monkeypatch.setattr(StreamingQueryManager, "removeListener", remove_logged)
    return log


def _stop_and_await_cleanup(spark, q, log) -> None:
    q.stop()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and not (
        _cache_is_empty(spark) and log["removed"]
    ):
        time.sleep(0.2)
    assert _cache_is_empty(spark)
    assert len(log["added"]) == 1
    assert log["removed"] == log["added"]
    assert _n_listeners(spark) == log["jvm_before"]


def test_near_dup_listener_unpersists_corpus_frames(
    spark, tmp_path, listener_log
):
    from streamlit_flink_demo_spark.operators.dedup import minhash_signatures
    from streamlit_flink_demo_spark.streaming.dedup_ingest import (
        attach_near_dup_stream,
    )

    spool = str(tmp_path / "spool")
    _spool(spark, spool, 0, _BATCH, _DOCS)
    corpus = _corpus(spark)
    q = attach_near_dup_stream(
        _stream(spark, spool, _DOCS),
        corpus,
        str(tmp_path / "flags"),
        checkpoint_dir=str(tmp_path / "ck"),
    )
    q.processAllAvailable()
    # the cache manager holds the corpus signature frame
    assert minhash_signatures(corpus).storageLevel.useMemory
    _stop_and_await_cleanup(spark, q, listener_log)


def test_near_dup_artifact_listener_unpersists_reresolved_frames(
    spark, tmp_path, listener_log, monkeypatch
):
    from streamlit_flink_demo_spark.operators import incremental
    from streamlit_flink_demo_spark.operators.compaction import (
        compact_dedup_ingest,
    )
    from streamlit_flink_demo_spark.streaming.dedup_ingest import (
        attach_near_dup_stream,
        init_minhash_index,
    )

    art = str(tmp_path / "sig_idx")
    init_minhash_index(_corpus(spark), art)
    spark.catalog.clearCache()
    reads = []
    real_read = incremental.read_index_data

    def read_logged(spark_, path):
        reads.append(path)
        return real_read(spark_, path)

    monkeypatch.setattr(incremental, "read_index_data", read_logged)

    spool = str(tmp_path / "spool")
    _spool(spark, spool, 0, _BATCH[:1], _DOCS)
    q = attach_near_dup_stream(
        _stream(spark, spool, _DOCS),
        None,
        str(tmp_path / "flags"),
        checkpoint_dir=str(tmp_path / "ck"),
        sig_index_path=art,
    )
    # artifact mode caches nothing until the first batch resolves
    assert _cache_is_empty(spark)
    q.processAllAvailable()
    assert not _cache_is_empty(spark)

    # a compaction fold adds a delta: the next batch re-resolves
    docs_sink = str(tmp_path / "admitted")
    IdempotentParquetSink(docs_sink)(
        spark.createDataFrame(_BATCH[1:2], _DOCS), 0
    )
    compact_dedup_ingest(spark, art, docs_sink)
    _spool(spark, spool, 1, _BATCH[2:], _DOCS)
    q.processAllAvailable()
    assert len(reads) == 2
    assert not _cache_is_empty(spark)
    _stop_and_await_cleanup(spark, q, listener_log)


def test_contamination_listener_unpersists_train_grams(
    spark, tmp_path, listener_log
):
    from streamlit_flink_demo_spark.streaming.contamination_ingest import (
        attach_contamination_stream,
        corpus_train_grams,
    )

    spool = str(tmp_path / "spool")
    _spool(spark, spool, 0, _BATCH, _DOCS)
    corpus = _corpus(spark)
    q = attach_contamination_stream(
        _stream(spark, spool, _DOCS),
        corpus,
        str(tmp_path / "flags"),
        checkpoint_dir=str(tmp_path / "ck"),
    )
    q.processAllAvailable()
    # the cache manager holds the train-gram frame
    assert corpus_train_grams(corpus).storageLevel.useMemory
    _stop_and_await_cleanup(spark, q, listener_log)
