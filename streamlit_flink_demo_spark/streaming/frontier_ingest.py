"""Ingest-time URL frontier maintenance — the ninth door-check: link
batches from the crawl stream are canonicalized and deduplicated
against everything the frontier has already seen, so each URL is
scheduled for fetch exactly once.

This is the streaming twin of ``operators/extract.docs_url_frontier``:
the batch form dedups a standing link corpus corpus-wide; a crawler
cannot afford that per discovery wave — newly extracted links arrive
continuously and the question is only "which of THESE are new". The
stream form answers it at per-batch cost:

- arriving (doc_id, raw URL) rows are canonicalized with the SAME
  ``canonicalize_url`` rules as the batch operator (tracking params,
  case folds, default ports, fragments — so messy variants of a seen
  URL never re-enter the frontier) and deduplicated within the batch;
- the SEEN set is probed with the two-step broadcast discipline every
  other door-check uses: the batch's (bucket, url) keys BROADCAST into
  a semi-join against the seen side (the persisted base index — a
  parquet artifact partitioned by url-hash bucket, so the scan prunes
  to the batch's buckets — plus this stream's own committed output),
  and the bounded hit set broadcasts back into an anti-join against
  the batch. Per-batch cost scales with the BATCH and the pruned
  bucket slice, never the full frontier;
- genuinely new URLs land exactly-once by batch id in an
  ``IdempotentParquetSink`` — the sink IS the frontier's growth, and
  feeds the next batch's seen side, so a URL first seen in batch 0 is
  silently dropped when batch 3 rediscovers it (pinned in
  tests/test_frontier_ingest.py along with the stream ≡ batch twin
  and restart replay).

No streaming state store: the operator is stateless per batch (the
seen side is durable parquet), so restart safety reduces to the
sink's batch-id dedup, exactly as dedup_ingest/cdc_ingest argue.

At 100 TB: the base index is the standing frontier (billions of URLs)
bucket-partitioned by ``crc32(url) % _N_BUCKETS``; a batch touches at
most ``|batch|`` buckets, each a constant expected fraction of the
corpus, and the per-batch hit set is bounded by the batch size — the
same artifact-probe shape SCALE.md measures for the CDC and MinHash
signature indexes. Compaction of the sink into the base follows the
existing ``compact_sink``/fold ledger machinery.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamlit_flink_demo_spark.operators.extract import (
    canonicalize_url,
    url_host,
)
from streamlit_flink_demo_spark.sinks import IdempotentParquetSink
from streamlit_flink_demo_spark.sources.catalog import read_parquet
from streamlit_flink_demo_spark.streaming.ingest import (
    land_and_summarize,
    start_ingest,
)

# url-hash bucket count for the seen-index partitioning: bounded file
# count at small scale, constant expected bucket width at any scale
# (a bigger frontier re-buckets with more bits, the LSH dial).
_N_BUCKETS = 64


def url_bucket(url) -> F.Column:
    """Partition bucket of a canonical URL in the seen index."""
    return F.pmod(F.crc32(url), F.lit(_N_BUCKETS)).cast("int")


def canon_urls_batch(
    batch_links: DataFrame, url_col: str = "raw"
) -> DataFrame:
    """Canonicalize one (micro-)batch of raw link rows and dedup
    within the batch: (host, url, b, n_refs). Pure composition of the
    batch operator's rules — usable from foreachBatch AND batch tests
    (the twin equivalence the pytest pins)."""
    canon = batch_links.select(
        canonicalize_url(F.col(url_col)).alias("url")
    )
    return (
        canon.groupBy("url")
        .agg(F.count("*").cast("bigint").alias("n_refs"))
        .select(
            url_host(F.col("url")).alias("host"),
            "url",
            url_bucket(F.col("url")).alias("b"),
            "n_refs",
        )
    )


def new_urls_batch(batch_canon: DataFrame, seen: DataFrame) -> DataFrame:
    """URLs of ``batch_canon`` not present in ``seen`` (both carrying
    (b, url)). Two broadcast joins, both building on the BOUNDED side:
    batch keys semi-join the seen slice (hits ≤ |batch|), then the hit
    set anti-joins the batch — the seen side is only ever scanned,
    never shuffled or built into a hash table."""
    keys = batch_canon.select("b", "url")
    hits = seen.join(F.broadcast(keys), ["b", "url"], "left_semi")
    return batch_canon.join(
        F.broadcast(hits.select("b", "url")), ["b", "url"], "left_anti"
    )


def seen_rows(
    batch: DataFrame,
    sink: IdempotentParquetSink,
    index_path: str | None,
    cols: tuple[str, ...],
) -> DataFrame | None:
    """``cols`` of every row already seen in the url-hash buckets of
    ``batch`` (which carries ``b``): the base index at ``index_path``
    plus the sink's committed output, both pruned to those buckets.
    None when neither exists yet (no base index, first batch)."""
    spark = batch.sparkSession
    parts = []
    if index_path is not None and os.path.isdir(index_path):
        parts.append(read_parquet(spark, index_path))
    try:
        parts.append(sink.read_committed(spark))
    except ValueError:
        pass  # first batch: nothing committed yet
    if not parts:
        return None
    # bucket list is bounded by the batch's distinct URLs; isin() over
    # it prunes the base index's partitions.
    bs = [r["b"] for r in batch.select("b").distinct().collect()]
    return functools.reduce(
        DataFrame.unionByName,
        [p.where(F.col("b").isin(bs)).select(*cols) for p in parts],
    )


def init_frontier_index(urls: DataFrame, path: str) -> str:
    """Persist the standing seen-URL index: (b, url) parquet
    partitioned by bucket, so per-batch probes prune to the buckets
    the batch actually hashes into. ``urls`` carries canonical URLs
    in a ``url`` column."""
    (
        urls.select("url")
        .distinct()
        .withColumn("b", url_bucket(F.col("url")))
        .repartition("b")
        .write.mode("overwrite")
        .partitionBy("b")
        .parquet(path)
    )
    return path


def attach_frontier_stream(
    link_stream: DataFrame,
    out_path: str,
    index_path: str | None = None,
    url_col: str = "raw",
    on_summary: Callable[[dict], None] | None = None,
    checkpoint_dir: str | None = None,
):
    """Wire a raw-link stream through frontier maintenance. New
    canonical URLs land exactly-once by batch id at ``out_path``
    (columns: host, url, b, n_refs); ``index_path`` (optional) is the
    standing seen-URL base index from ``init_frontier_index``.
    ``on_summary`` (optional) receives per COMMITTED batch:

        {"batch_id": int, "n_urls": int, "n_new": int, "n_hosts": int}

    and never re-fires for a replayed batch. Returns the started
    StreamingQuery."""
    sink = IdempotentParquetSink(out_path)
    summary = {"n_new": F.count("*"), "n_hosts": F.countDistinct("host")}

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        canon = canon_urls_batch(batch_df, url_col=url_col).persist()
        try:
            seen = seen_rows(canon, sink, index_path, ("b", "url"))
            new = canon if seen is None else new_urls_batch(canon, seen)
            rows = new.select("host", "url", "b", "n_refs")
            land_and_summarize(
                sink,
                rows,
                batch_id,
                on_summary,
                summary,
                extra=lambda: {"n_urls": canon.count()},
            )
        finally:
            canon.unpersist()

    return start_ingest(link_stream, on_batch, checkpoint_dir)
