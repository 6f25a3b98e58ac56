"""Ingest-time HTML → text extraction — the eighth door-check: the
first-mile stage (operators/extract.py) applied where production
pipelines actually run it, on the arriving crawl stream.

A crawl lands as (doc_id, html); everything downstream — quality
gates, dedup, contamination screens — wants extracted text. Batch
re-extraction of a standing corpus is a corpus-wide job; extracting
at the door costs exactly the arriving batch, and extraction is
STATELESS (a pure per-row projection), so the stream form is the
batch operator applied per micro-batch — no state store, no
watermark, stream ≡ batch twin by construction (pinned in
tests/test_extract_ingest.py).

Extracted rows (doc_id, n_lines_raw, n_lines_kept, extract_text) land
in an ``IdempotentParquetSink`` under the door-check family's delivery
contract (``streaming/ingest.py``). Rows the boilerplate filter empties
out (n_lines_kept = 0) still land, carrying their accounting: dropping
documents is the quality GATE's decision, not the extractor's.

At 100 TB: the extraction itself is one map-only JVM projection
(whole-stage codegen, no shuffle — tests/test_plans.py pins the batch
twin), so per-batch cost is scan bandwidth on the batch. The landed
sink is the corpus the other door-checks then sign/digest/screen.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamlit_flink_demo_spark.operators.extract import extract_text
from streamlit_flink_demo_spark.sinks import IdempotentParquetSink
from streamlit_flink_demo_spark.streaming.ingest import (
    land_and_summarize,
    start_ingest,
)


def extract_batch(batch_docs: DataFrame, html_col: str = "html") -> DataFrame:
    """The shared batch/stream extraction projection: accounting plus
    the extracted text for every arriving document."""
    return extract_text(batch_docs, html_col=html_col).select(
        "doc_id", "n_lines_raw", "n_lines_kept", "extract_text"
    )


def attach_extract_stream(
    doc_stream: DataFrame,
    out_path: str,
    html_col: str = "html",
    on_summary: Callable[[dict], None] | None = None,
    checkpoint_dir: str | None = None,
):
    """Wire a (doc_id, html) stream through ingest-time extraction.
    Extracted rows land exactly-once by batch id at ``out_path``;
    ``on_summary`` (optional) receives per COMMITTED batch:

        {"batch_id": int, "n_docs": int, "n_boilerplate_only": int,
         "chars_kept": int}

    and never re-fires for a replayed batch. Returns the started
    StreamingQuery."""
    sink = IdempotentParquetSink(out_path)
    summary = {
        "n_docs": F.count("*"),
        "n_boilerplate_only": F.coalesce(
            F.sum((F.col("n_lines_kept") == 0).cast("int")), F.lit(0)
        ),
        "chars_kept": F.coalesce(F.sum(F.length("extract_text")), F.lit(0)),
    }

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        rows = extract_batch(batch_df, html_col=html_col)
        land_and_summarize(sink, rows, batch_id, on_summary, summary)

    return start_ingest(doc_stream, on_batch, checkpoint_dir)
