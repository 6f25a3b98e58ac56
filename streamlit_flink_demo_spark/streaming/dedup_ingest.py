"""Ingest-time near-duplicate detection over a document stream.

The streaming twin of ``operators/dedup.dedup_incremental``: every
arriving micro-batch of documents is MinHash-signed with the SAME
pipeline as the batch operators (``dedup.minhash_signatures``) and its
band keys are probed against a STATIC corpus signature frame — each
new document is flagged ``dup_of``/``est_jaccard`` against its best
corpus match, or passes through unflagged. This is how a 100 TB
pipeline drops near-duplicates at the door instead of re-running
corpus-wide dedup per crawl.

Scale shape (per batch): the batch is small by construction, so its
band frame broadcasts into the join against the corpus band keys —
per-ingest cost scales with the BATCH, not the corpus (the
dedup_incremental argument); the corpus side is persisted once at
attach time (in production: the ``build_dup_sig_index`` parquet
artifact, bucket-partitioned so each band probe prunes partitions).
No streaming state store is involved at all — the operator is
stateless per batch, so there is no watermark, no snapshot growth,
and restart safety reduces to the sink's batch-id dedup.

Flag delivery: flag rows land in an ``IdempotentParquetSink`` — a
DISTRIBUTED parquet write, exactly-once by batch id, never a driver
collect — under the delivery contract of ``streaming/ingest.py``; the
one-row summary is the only driver-side data on the hot path.
Consumers read the full flags exactly-once via
``IdempotentParquetSink(flags_path).read_committed(spark)``.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamlit_flink_demo_spark.operators.dedup import (
    _K,
    _band_keys_col,
    _minhash_eq_sum,
    minhash_signatures,
)
from streamlit_flink_demo_spark.sinks import IdempotentParquetSink
from streamlit_flink_demo_spark.streaming.ingest import (
    land_and_summarize,
    start_ingest,
)


def near_dup_flags_batch(
    batch_docs: DataFrame, corpus_sigs: DataFrame, corpus_bands: DataFrame
) -> DataFrame:
    """Flag one (micro-)batch of (doc_id, text) docs against the
    corpus: returns (doc_id, dup_of, est_jaccard) with NULLs for
    clean docs. Pure composition — usable from foreachBatch AND from
    batch tests (the equivalence the pytest pins)."""
    sigs = minhash_signatures(batch_docs).persist()
    try:
        new_b = sigs.select(
            F.col("doc_id").alias("new_doc"),
            F.explode(_band_keys_col()).alias("band_key"),
        )
        cand = (
            F.broadcast(new_b)
            .join(corpus_bands, "band_key")
            .select("new_doc", "old_doc")
            .distinct()
        )
        ma = sigs.alias("ma")
        mb = corpus_sigs.alias("mb")
        verified = (
            cand.join(ma, F.col("new_doc") == F.col("ma.doc_id"))
            .join(mb, F.col("old_doc") == F.col("mb.doc_id"))
            .select(
                "new_doc",
                "old_doc",
                (_minhash_eq_sum() / F.lit(float(_K))).alias("est_jaccard"),
            )
            .filter(F.col("est_jaccard") >= 0.5)
        )
        from pyspark.sql import Window as W

        best = (
            verified.withColumn(
                "rk",
                F.row_number().over(
                    W.partitionBy("new_doc").orderBy(
                        F.col("est_jaccard").desc(), F.col("old_doc")
                    )
                ),
            )
            .filter("rk = 1")
            .select(
                F.col("new_doc").alias("doc_id"),
                F.col("old_doc").alias("dup_of"),
                "est_jaccard",
            )
        )
        return (
            batch_docs.select("doc_id")
            .join(best, "doc_id", "left")
            .select("doc_id", "dup_of", "est_jaccard")
        )
    finally:
        sigs.unpersist()


def init_minhash_index(corpus_docs: DataFrame, path: str) -> str:
    """Publish the standing MinHash signature artifact for a corpus
    frame: minhash_signatures rows under data/, atomically published
    (similarity._publish_artifact), delta-appendable via
    operators/compaction.compact_dedup_ingest so the door-check
    learns admitted documents without re-signing the corpus."""
    from streamlit_flink_demo_spark.operators.similarity import (
        _publish_artifact,
        _write_meta,
    )

    tmp = f"{path}.tmp-{os.getpid()}"
    minhash_signatures(corpus_docs).write.mode("overwrite").parquet(
        os.path.join(tmp, "data")
    )
    _write_meta(tmp, {})
    _publish_artifact(tmp, path)
    return path


def attach_near_dup_stream(
    doc_stream: DataFrame,
    corpus_docs: DataFrame | None,
    flags_path: str,
    on_summary: Callable[[dict], None] | None = None,
    checkpoint_dir: str | None = None,
    sig_index_path: str | None = None,
):
    """Wire a (doc_id, text) document stream through per-batch near-dup
    flagging. The standing signature state is either ``corpus_docs``
    (signed ONCE and persisted in-session) or — the production form —
    the persisted artifact at ``sig_index_path`` (init_minhash_index;
    pass ``corpus_docs=None``), whose compaction deltas
    (operators/compaction.compact_dedup_ingest) are picked up on the
    next batch without reattaching. Flag rows (doc_id, dup_of,
    est_jaccard) land at ``flags_path`` under the delivery contract of
    ``streaming/ingest.py``; ``on_summary``, if given, receives per
    COMMITTED batch:

        {"batch_id": int, "n_docs": int, "n_flagged": int}

    Returns the started StreamingQuery; the persisted corpus frames
    are unpersisted when the query terminates, so repeated attach/stop
    cycles in one session don't accumulate cached corpus-signature
    copies."""
    if (corpus_docs is None) == (sig_index_path is None):
        raise ValueError(
            "pass exactly one of corpus_docs / sig_index_path"
        )
    # The cached (sigs, bands) pair. Artifact mode fills it on the
    # first batch and swaps it whenever the artifact's delta count
    # changes (one driver-side meta read per batch), so a compaction
    # fold committed mid-stream serves the NEXT batch without
    # reattaching. The termination listener reads this LIVE list.
    live_frames: list = []
    n_deltas = -1

    def _swap_in(sigs_src: DataFrame) -> None:
        for f in live_frames:
            f.unpersist()
        sigs = sigs_src.persist()
        bands = sigs.select(
            F.col("doc_id").alias("old_doc"),
            F.explode(_band_keys_col()).alias("band_key"),
        ).persist()
        bands.count()  # materialize before serving batches
        live_frames[:] = [sigs, bands]

    if sig_index_path is None:
        _swap_in(minhash_signatures(corpus_docs))

    def _resolve(spark):
        nonlocal n_deltas
        if sig_index_path is not None:
            from streamlit_flink_demo_spark.operators.incremental import (
                _read_meta,
                read_index_data,
            )

            n = len(
                _read_meta(os.path.realpath(sig_index_path)).get("deltas", [])
            )
            if n != n_deltas:
                _swap_in(read_index_data(spark, sig_index_path))
                n_deltas = n
        return live_frames

    sink = IdempotentParquetSink(flags_path)
    summary = {"n_docs": F.count("*"), "n_flagged": F.count("dup_of")}

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        sigs, bands = _resolve(batch_df.sparkSession)
        flags = near_dup_flags_batch(batch_df, sigs, bands)
        land_and_summarize(sink, flags, batch_id, on_summary, summary)

    return start_ingest(doc_stream, on_batch, checkpoint_dir, live_frames)


# --------------------------------------------------------------------------
# Semantic (embedding-space) ingest-time dedup — the round-9 encoder
# composed with the ingest pattern above
# --------------------------------------------------------------------------
# MinHash catches lexical near-duplicates; the semantic tier flags an
# arriving document whose EMBEDDING cosine against a corpus document
# reaches tau — paraphrases and re-encodes the shingle tier misses.
# Same scale shape: the encoder (operators/embed.embed_columns) is
# stateless and shuffle-free so it runs inside the micro-batch plan
# unchanged; the corpus side is encoded ONCE at attach time into
# sign-LSH buckets (in production: the parquet embedding artifact,
# bucket-partitioned); the batch side broadcasts into the bucket join,
# so per-ingest cost scales with the batch. Candidates only form
# inside a shared bucket (near-identical vectors agree on every sign
# bit — the docs_embed_semdedup argument), cosine is exact on the
# normalized vectors (dot product), and flag delivery reuses the
# IdempotentParquetSink contract above, summaries exactly-once.

# Default tau mirrors operators/embed._EMB_TAU (tuned to the synthetic
# corpus's cosine distribution; production model vectors run ~0.9).
_SEM_TAU = 0.97


def corpus_embedding_buckets(corpus_docs: DataFrame) -> DataFrame:
    """(bucket, old_doc, old_emb): the corpus encoded and sign-LSH
    bucketed — the attach-time artifact the stream probes."""
    from streamlit_flink_demo_spark.operators.embed import (
        embed_columns,
        sign_bucket_col,
    )

    return embed_columns(corpus_docs).select(
        sign_bucket_col().alias("bucket"),
        F.col("doc_id").alias("old_doc"),
        F.col("embedding").alias("old_emb"),
    )


def semantic_dup_flags_batch(
    batch_docs: DataFrame, corpus_emb: DataFrame, tau: float = _SEM_TAU
) -> DataFrame:
    """Flag one (micro-)batch against the bucketed corpus embeddings:
    (doc_id, dup_of, cos_sim) with NULLs for clean docs — best corpus
    match at cosine >= tau, ties to the lowest old_doc. Pure
    composition, usable from foreachBatch AND batch tests (the
    equivalence tests/test_dedup_ingest.py pins for the minhash twin
    applies verbatim)."""
    from pyspark.sql import Window as W

    from streamlit_flink_demo_spark.functions.vectors import dot
    from streamlit_flink_demo_spark.operators.embed import (
        embed_columns,
        sign_bucket_col,
    )

    new = embed_columns(batch_docs).select(
        F.col("doc_id").alias("new_doc"),
        F.col("embedding").alias("new_emb"),
        sign_bucket_col().alias("bucket"),
    )
    scored = (
        F.broadcast(new)
        .join(corpus_emb, "bucket")
        .filter(F.col("new_doc") != F.col("old_doc"))
        .select(
            "new_doc",
            "old_doc",
            dot(F.col("new_emb"), F.col("old_emb")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= tau)
    )
    best = (
        scored.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("new_doc").orderBy(
                    F.col("cos_sim").desc(), F.col("old_doc")
                )
            ),
        )
        .filter("rk = 1")
        .select(
            F.col("new_doc").alias("doc_id"),
            F.col("old_doc").alias("dup_of"),
            "cos_sim",
        )
    )
    return (
        batch_docs.select("doc_id")
        .join(best, "doc_id", "left")
        .select("doc_id", "dup_of", "cos_sim")
    )


def attach_semantic_dedup_stream(
    doc_stream: DataFrame,
    corpus_docs: DataFrame,
    flags_path: str,
    tau: float = _SEM_TAU,
    on_summary: Callable[[dict], None] | None = None,
    checkpoint_dir: str | None = None,
):
    """Semantic twin of ``attach_near_dup_stream``: arriving documents
    are encoded in-plan and flagged against the attach-time corpus
    embedding buckets. Same delivery contract (``streaming/ingest.py``)
    and summary keys; the corpus frame is unpersisted on query
    termination."""
    corpus_emb = corpus_embedding_buckets(corpus_docs).persist()
    corpus_emb.count()  # materialize before the stream starts
    sink = IdempotentParquetSink(flags_path)
    summary = {"n_docs": F.count("*"), "n_flagged": F.count("dup_of")}

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        flags = semantic_dup_flags_batch(batch_df, corpus_emb, tau)
        land_and_summarize(sink, flags, batch_id, on_summary, summary)

    return start_ingest(doc_stream, on_batch, checkpoint_dir, [corpus_emb])
