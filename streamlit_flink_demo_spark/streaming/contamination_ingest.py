"""Ingest-time train-set contamination flagging over an eval stream.

The streaming twin of the exact contamination check
(``operators/suffix.contamination_capsort_exact``): every arriving
micro-batch of EVAL documents is screened against the TRAIN corpus for
character-exact leakage, at the door — the check a training pipeline
runs when new benchmark/eval material arrives, so leaked spans are
flagged before the eval set is ever frozen.

Exactness without the index: a document is contaminated at threshold T
(max character-exact span shared with any train doc ≥ T chars) IF AND
ONLY IF it shares at least one T-char gram with the train corpus — so
the per-batch screen probes the batch's T-grams against the distinct
train-gram frame and the verdict is exact, not a sketch. The batch
query sorts every capped 64-char window to report the match LENGTH
(that is what ``contamination_capsort_exact`` reports); the ingest
tier only needs the threshold verdict plus the contaminated-position
count, which the gram probe gives at a fraction of the cost.

Scale shape (per batch): the batch is small by construction, so its
gram frame BROADCASTS into the join against the train grams — per-
ingest cost scales with the batch, not the corpus (the
``dedup_ingest`` argument). The train-gram frame is persisted once at
attach time; in production it is a parquet artifact hash-bucketed by
gram, so each broadcast probe prunes to matching buckets instead of
scanning the full gram set. No streaming state store: the operator is
stateless per batch (no watermark, no snapshot growth) and restart
safety reduces to the sink's batch-id dedup.

Flag delivery: flag rows land in an ``IdempotentParquetSink`` under
the delivery contract of ``streaming/ingest.py``; the persisted train
grams are unpersisted when the query terminates.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamlit_flink_demo_spark.sinks import IdempotentParquetSink
from streamlit_flink_demo_spark.streaming.ingest import (
    land_and_summarize,
    start_ingest,
)

# Same threshold as operators/suffix._CONTAM_T: a position counts as
# contaminated when its train match reaches 24 chars.
_T = 24


def _doc_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, p, gram): every full-width T-char gram of every doc."""
    return docs.filter(F.length("text") >= _T).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.length("text") - _T)).alias("p"),
        "text",
    ).select(
        "doc_id", "p", F.col("text").substr(F.col("p") + 1, F.lit(_T)).alias("gram")
    )


def corpus_train_grams(train_docs: DataFrame) -> DataFrame:
    """(gram): the DISTINCT T-char grams of the train corpus — the
    attach-time artifact the stream probes. Distinct, so a probe hit
    never multiplies a batch position."""
    return _doc_grams(train_docs).select("gram").distinct()


def contamination_flags_batch(
    batch_docs: DataFrame, train_grams: DataFrame
) -> DataFrame:
    """Screen one (micro-)batch of (doc_id, text) eval docs against the
    train grams: returns (doc_id, n_positions, n_contaminated_positions,
    contaminated) — contaminated ⟺ the doc shares a ≥T-char exact span
    with some train document. Pure composition — usable from
    foreachBatch AND from batch tests (the stream ≡ batch equivalence
    the pytest pins). Documents shorter than T chars have zero
    positions and are clean by definition."""
    grams = _doc_grams(batch_docs)
    hits = (
        F.broadcast(grams)
        .join(train_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated_positions"))
    )
    sizes = batch_docs.select(
        "doc_id",
        F.greatest(F.length("text") - _T + 1, F.lit(0))
        .cast("bigint")
        .alias("n_positions"),
    )
    return sizes.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_positions",
        F.coalesce("n_contaminated_positions", F.lit(0))
        .cast("bigint")
        .alias("n_contaminated_positions"),
        (F.coalesce("n_contaminated_positions", F.lit(0)) > 0).alias(
            "contaminated"
        ),
    )


def attach_contamination_stream(
    doc_stream: DataFrame,
    train_docs: DataFrame,
    flags_path: str,
    on_summary: Callable[[dict], None] | None = None,
    checkpoint_dir: str | None = None,
):
    """Wire a (doc_id, text) eval-document stream through per-batch
    exact contamination screening. ``train_docs`` is gram-indexed ONCE
    and persisted (the artifact role). Flag rows land at
    ``flags_path`` under the delivery contract of
    ``streaming/ingest.py``; ``on_summary``, if given, receives per
    COMMITTED batch:

        {"batch_id": int, "n_docs": int, "n_flagged": int}

    Returns the started
    StreamingQuery; the persisted gram frame unpersists on query
    termination."""
    train_grams = corpus_train_grams(train_docs).persist()
    train_grams.count()  # materialize before the stream starts
    sink = IdempotentParquetSink(flags_path)
    summary = {
        "n_docs": F.count("*"),
        "n_flagged": F.coalesce(
            F.sum(F.col("contaminated").cast("int")), F.lit(0)
        ),
    }

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        flags = contamination_flags_batch(batch_df, train_grams)
        land_and_summarize(sink, flags, batch_id, on_summary, summary)

    return start_ingest(doc_stream, on_batch, checkpoint_dir, [train_grams])
