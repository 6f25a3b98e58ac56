"""Ingest-time CDC coverage over a document stream — the sixth
door-check: how many of each arriving document's bytes does the
standing corpus already store, at content-defined-chunk granularity
(operators/dedup.cdc_chunks_col — boundaries that re-synchronize
after insertions, so offsets don't defeat the measure).

Per batch: the arriving docs are CDC-chunked and digested in-plan
(map-only higher-order functions), the batch's small digest set is
broadcast against the standing chunk-digest index — the in-session
frame (``corpus_docs``) or, the production form, the PERSISTED
bucket-partitioned artifact (``cdc_index_path`` —
operators/dedup.init_cdc_index; probes dynamic-partition-prune to the
batch's hash buckets, re-resolved per batch so compaction deltas
serve the NEXT batch without reattaching). Stateless per batch; no
watermark, no state store. Coverage rows land in an
``IdempotentParquetSink`` under the delivery contract of
``streaming/ingest.py``; the per-batch summary (chunk/duplicated
chars — the new-bytes rate a crawl monitor graphs) fires once per
COMMITTED batch id. operators/compaction.compact_cdc_ingest folds
admitted documents' digests back into the artifact.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamlit_flink_demo_spark.operators.dedup import (
    cdc_coverage_batch,
    cdc_hash_rows,
)
from streamlit_flink_demo_spark.sinks import IdempotentParquetSink
from streamlit_flink_demo_spark.streaming.ingest import (
    land_and_summarize,
    start_ingest,
)


def attach_cdc_coverage_stream(
    doc_stream: DataFrame,
    corpus_docs: DataFrame | None,
    out_path: str,
    on_summary: Callable[[dict], None] | None = None,
    checkpoint_dir: str | None = None,
    cdc_index_path: str | None = None,
):
    """Wire a (doc_id, text) stream through per-batch CDC coverage.
    Pass exactly one of ``corpus_docs`` (in-session digest frame,
    persisted once) / ``cdc_index_path`` (persisted artifact,
    re-resolved per batch). Returns the started StreamingQuery."""
    if (corpus_docs is None) == (cdc_index_path is None):
        raise ValueError(
            "pass exactly one of corpus_docs / cdc_index_path"
        )
    index = None
    if cdc_index_path is None:
        index = cdc_hash_rows(corpus_docs).persist()
        index.count()  # materialize before the stream starts
    sink = IdempotentParquetSink(out_path)
    summary = {
        "n_docs": F.count("*"),
        "n_chunks": F.coalesce(F.sum("n_chunks"), F.lit(0)),
        "dup_chars": F.coalesce(F.sum("dup_chars"), F.lit(0)),
    }

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        idx = index
        if idx is None:
            # artifact mode: re-resolved per batch, so compaction
            # deltas serve the NEXT batch without reattaching
            from streamlit_flink_demo_spark.operators.incremental import (
                read_live_index,
            )

            idx = read_live_index(batch_df.sparkSession, cdc_index_path)
        rows = cdc_coverage_batch(batch_df, idx)
        land_and_summarize(sink, rows, batch_id, on_summary, summary)

    return start_ingest(
        doc_stream,
        on_batch,
        checkpoint_dir,
        None if index is None else [index],
    )
