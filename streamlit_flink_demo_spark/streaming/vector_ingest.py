"""Streaming vector-index ingest: documents → chunk → embed → bucket.

The ingest half of a continuously-updated retrieval index: arriving
documents are chunked (operators/retrieval.chunk_columns, 200-char
windows at 150-char stride), encoded with the deterministic
hash-projection embedder (operators/embed.embed_columns), tagged with
their sign-LSH bucket (operators/embed.sign_bucket_col — the SAME
bucketing the batch semantic-dedup and the streaming semantic dedup
probe use, so the index the stream grows is the index the batch
queries probe), and landed exactly-once in an ``IdempotentParquetSink``.

Every stage is a STATELESS projection — no watermark, no state store,
no aggregation — so the whole chain attaches to a readStream source
unchanged and per-batch cost is strictly ∝ batch size. That is the
point: at 100 TB the corpus encode is an artifact built once
(operators/embed.build_embed_encode) and the DELTA rides this stream;
the sink's batch-id manifest makes restart replays rewrite nothing,
and ``read_committed`` exposes exactly the committed vector rows —
ready for the incremental ANN append path (operators/incremental.py)
to fold into the serving index under its frozen quantizers.

Tests (tests/test_streaming_vector_ingest.py) pin stream ≡ batch-twin
equality of every vector row, the exactly-once restart contract for
rows AND summaries, and bucket agreement with the batch sign-LSH.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamlit_flink_demo_spark.operators.retrieval import (
    chunk_embed_rows,  # noqa: F401 — re-export; shared batch/stream rows
)
from streamlit_flink_demo_spark.sinks import IdempotentParquetSink
from streamlit_flink_demo_spark.streaming.ingest import (
    land_and_summarize,
    start_ingest,
)


def attach_vector_ingest(
    doc_stream: DataFrame,
    index_path: str,
    on_summary: Callable[[dict], None] | None = None,
    checkpoint_dir: str | None = None,
):
    """Wire a (doc_id, text) document stream through chunk → embed →
    sign-bucket into an ``IdempotentParquetSink`` at ``index_path``.
    Returns the started ``StreamingQuery``. ``on_summary`` (optional)
    receives ONE bounded digest per COMMITTED batch id (chunk/doc
    counts + zero-norm count — the empty-chunk health signal);
    replayed batches re-fire nothing."""
    sink = IdempotentParquetSink(index_path)
    summary = {
        "n_chunks": F.count("*"),
        "n_docs": F.countDistinct("doc_id"),
        "n_empty": F.coalesce(
            F.sum((F.col("n_tokens") == 0).cast("int")), F.lit(0)
        ),
    }

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        land_and_summarize(sink, batch, batch_id, on_summary, summary)

    return start_ingest(chunk_embed_rows(doc_stream), on_batch, checkpoint_dir)


def probe_fresh(
    spark,
    base_rows: DataFrame,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Freshness-aware retrieval serving — the OTHER half of the
    ingest stream: answer vector queries over the batch index UNION
    the committed streamed tail, so a document ingested seconds ago is
    retrievable without any index rebuild.

    ``base_rows`` is the batch-built chunk index (``chunk_embed_rows``
    of the base corpus, or the persisted artifact's rows);
    ``index_path`` is the ``IdempotentParquetSink`` the ingest stream
    lands in (only COMMITTED batches are visible — an in-flight or
    replayed batch can never serve a phantom row); ``queries`` is
    (q_id, q_emb). Exact cosine top-k per query with deterministic
    (score desc, doc, chunk) tie-break: the tail is typically tiny
    next to the base, so the union adds one scan of the tail to the
    base probe — at scale the base leg rides the ANN artifact tiers
    and this exact union leg covers only the not-yet-compacted tail
    (operators/incremental.py folds the tail into the artifact under
    frozen quantizers; compaction shrinks this leg, never changes its
    answers)."""
    cols = ["doc_id", "chunk_id", "n_tokens", "bucket", "embedding"]
    index = base_rows.select(*cols)
    try:
        tail = IdempotentParquetSink(index_path).read_committed(spark)
    except ValueError:
        # No committed batches yet (stream attached but nothing landed):
        # serve the base index alone instead of crashing the probe.
        tail = None
    if tail is not None:
        index = index.unionAll(tail.select(*cols))
    return _exact_chunk_topk(queries, index, k)


def probe_fresh_compacted(
    spark,
    artifact_path: str,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """``probe_fresh`` for the COMPACTED deployment: the base is the
    chunk-embedding ARTIFACT (base + folded deltas,
    operators/retrieval.build_chunk_embed_index grown by
    operators/compaction.compact_vector_ingest) and the tail leg is
    only the committed batches NOT yet folded — the reconciling
    reader, so the answer is identical at every instant of the fold
    cycle (mid-fold, post-fold, post-truncate; pinned in
    tests/test_compaction.py)."""
    from streamlit_flink_demo_spark.operators.compaction import (
        read_index_with_tail,
    )

    cols = ["doc_id", "chunk_id", "n_tokens", "bucket", "embedding"]
    index = read_index_with_tail(spark, artifact_path, index_path).select(
        *cols
    )
    return _exact_chunk_topk(queries, index, k)


def _exact_chunk_topk(
    queries: DataFrame, index: DataFrame, k: int
) -> DataFrame:
    """Shared scoring block: broadcast queries × index exact cosine,
    deterministic (score desc, doc, chunk) tie-break, top-k."""
    from pyspark.sql import Window as W

    from streamlit_flink_demo_spark.functions.vectors import dot

    scored = F.broadcast(queries).join(index, how="cross").select(
        "q_id",
        "doc_id",
        "chunk_id",
        dot(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
    )
    w = W.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("doc_id"), F.col("chunk_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("q_id", "doc_id", "chunk_id", "cos_sim", "rk")
    )
