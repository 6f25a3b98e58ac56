"""Ingest-time exact repeated-span CLEANUP over a document stream.

The streaming twin of
``operators/suffix.dedup_span_rewrite_delta_gramidx`` and the third
door-check module (dedup_ingest flags near-dups,
contamination_ingest screens eval leakage — this one REWRITES):
every arriving micro-batch of documents has its >=24-char spans that
repeat anywhere in (standing corpus ∪ this batch) cut before the text
lands, Lee-et-al cleanup applied at ingest instead of as a periodic
batch pass.

Each batch goes through ``suffix.span_rewrite_batch``, whose crediting
is the one exact span-removal algorithm (``suffix._credit_gram_groups``):
a position's credited repeat length is capped at 64 chars and
thresholded at 24, so any qualifying partner shares the position's
exact 24-char prefix.
The standing corpus index is either built in-session at attach time
(``corpus_docs`` — persisted (g, s64) frame) or, the production form,
the PERSISTED bucketed gram-index artifact (``gram_index_path`` —
suffix.build_gram_index / init_gram_index: parquet partitioned by
gb = hash(24-gram), so each batch's broadcast gram set prunes the
scan to its own buckets and corpus text is never rescanned). Per-
batch cost ∝ batch size + matching corpus groups — never the corpus.

Batch semantics: each batch is rewritten against corpus ∪ ITSELF
(a document repeated inside one batch is cut), not against earlier
batches — folding committed batches into the standing gram index is
the compaction path (operators/compaction.compact_span_ingest folds
the landed ``clean_text`` rows in as index deltas, after which later
batches ARE cleaned against earlier ingested documents). No streaming
state store: stateless per batch; restart safety is the sink's
batch-id dedup. Rewrite rows — accounting PLUS the cleaned text
itself (the ingest product) — land in an ``IdempotentParquetSink``
under the delivery contract of ``streaming/ingest.py``; an in-session
index unpersists on query termination.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamlit_flink_demo_spark.operators.suffix import (  # noqa: F401
    gram_positions,
    read_gram_index,
    span_rewrite_batch,  # re-export; shared batch/stream rewrite
)
from streamlit_flink_demo_spark.sinks import IdempotentParquetSink
from streamlit_flink_demo_spark.streaming.ingest import (
    land_and_summarize,
    start_ingest,
)


def corpus_span_index(corpus_docs: DataFrame) -> DataFrame:
    """The attach-time in-session standing index: every corpus
    position keyed by its exact 24-gram, carrying the 64-char window
    the LCP needs (suffix.gram_positions)."""
    return gram_positions(corpus_docs)


def attach_span_rewrite_stream(
    doc_stream: DataFrame,
    corpus_docs: DataFrame | None,
    out_path: str,
    on_summary: Callable[[dict], None] | None = None,
    checkpoint_dir: str | None = None,
    gram_index_path: str | None = None,
):
    """Wire a (doc_id, text) document stream through per-batch exact
    span cleanup. The standing index is ``corpus_docs`` (in-session:
    built and persisted ONCE) or — the production form — the
    persisted artifact at ``gram_index_path`` (bucket-pruned probes;
    pass ``corpus_docs=None``). Rewrite rows (accounting +
    ``clean_text``) land exactly-once by batch id at ``out_path``;
    ``on_summary`` (optional) receives per COMMITTED batch:

        {"batch_id": int, "n_docs": int, "n_rewritten": int,
         "chars_removed": int}

    and never re-fires for a replayed batch. Returns the started
    StreamingQuery; an in-session index unpersists on termination."""
    if (corpus_docs is None) == (gram_index_path is None):
        raise ValueError(
            "pass exactly one of corpus_docs / gram_index_path"
        )
    index = None
    if gram_index_path is None:
        index = corpus_span_index(corpus_docs).persist()
        index.count()  # materialize before the stream starts
    sink = IdempotentParquetSink(out_path)
    summary = {
        "n_docs": F.count("*"),
        "n_rewritten": F.coalesce(
            F.sum((F.col("n_spans_removed") > 0).cast("int")), F.lit(0)
        ),
        "chars_removed": F.coalesce(F.sum("chars_removed"), F.lit(0)),
    }

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Artifact mode re-resolves per batch (one driver-side
        # meta.json read): a compaction delta committed mid-stream is
        # visible to the NEXT batch without reattaching.
        idx = (
            index
            if index is not None
            else read_gram_index(batch_df.sparkSession, gram_index_path)
        )
        rows = span_rewrite_batch(batch_df, idx)
        land_and_summarize(sink, rows, batch_id, on_summary, summary)

    return start_ingest(
        doc_stream,
        on_batch,
        checkpoint_dir,
        None if index is None else [index],
    )
