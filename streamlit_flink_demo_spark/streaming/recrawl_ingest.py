"""Ingest-time recrawl-state maintenance — the tenth door-check:
fetch RESULTS stream back from the crawler and the scheduler's
per-URL change statistics update incrementally, at per-batch cost.

This is the streaming twin of ``operators/extract.
docs_recrawl_schedule``: the batch form estimates change rates from a
full fetch history in one pass; a standing crawl cannot re-scan its
history per wave — fetch results (url, content digest) arrive
continuously and the question is "did THIS fetch observe a change,
and what are the URL's running counters now". The stream form
answers it per batch:

- arriving (url, digest) rows are canonicalized with the SAME
  ``canonicalize_url`` rules as every other crawl stage (a messy
  variant of a scheduled URL must update the canonical row, not fork
  state) and collapsed to ONE observation per URL per batch (a batch
  is one observation interval; duplicate fetches of a URL within a
  batch pick the max digest deterministically);
- the URL's PRIOR state is probed with the two-step broadcast
  discipline of the other door-checks: batch keys semi-join the seen
  side (the bucket-partitioned base state artifact — scans prune to
  the batch's buckets — plus this stream's own committed deltas),
  and the bounded hit set folds to latest-per-URL (max seq) before a
  broadcast join back onto the batch;
- the updated counters land exactly-once by batch id as DELTA rows
  (b, url, n_fetches, n_changes, last_digest, seq): n_fetches
  increments, n_changes increments iff a prior digest exists and
  differs, last_digest advances, and ``seq`` (the batch id; base
  rows carry -1) makes latest-per-URL well defined without a
  streaming state store — restart safety reduces to the sink's
  batch-id dedup, exactly as frontier_ingest argues.

From the latest counters, the batch operator's estimator columns
(p_change, priority, refetch interval) are pure arithmetic —
``schedule_from_state`` derives them so a serving layer reads the
SAME formulas the oracle-checked batch form pins.

At 100 TB: the base state is the standing URL universe (billions of
rows) bucket-partitioned by ``crc32(url) % 64``; a batch touches at
most |batch| buckets and the latest-state fold runs on the bounded
hit set, never the universe. Compaction of the delta sink follows
the existing ``compact_sink``/fold ledger machinery; a fold must
keep the max-seq row per URL (``latest_state`` is the fold
function).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamlit_flink_demo_spark.operators.extract import (
    _RC_BUDGET,
    canonicalize_url,
    url_host,
)
from streamlit_flink_demo_spark.sinks import IdempotentParquetSink
from streamlit_flink_demo_spark.streaming.frontier_ingest import (
    seen_rows,
    url_bucket,
)
from streamlit_flink_demo_spark.streaming.ingest import (
    land_and_summarize,
    start_ingest,
)

_STATE_COLS = ("b", "url", "n_fetches", "n_changes", "last_digest", "seq")


def fetch_obs_batch(
    batch: DataFrame, url_col: str = "url", digest_col: str = "digest"
) -> DataFrame:
    """Collapse one (micro-)batch of fetch results to ONE observation
    per canonical URL: (b, url, digest). Duplicate in-batch fetches
    pick the max digest — deterministic, and a batch counts as a
    single observation interval either way."""
    return (
        batch.select(
            canonicalize_url(F.col(url_col)).alias("url"),
            F.col(digest_col).alias("digest"),
        )
        .groupBy("url")
        .agg(F.max("digest").alias("digest"))
        .select(url_bucket(F.col("url")).alias("b"), "url", "digest")
    )


def latest_state(states: DataFrame) -> DataFrame:
    """Latest counters per URL from a pile of state rows (base +
    deltas): the max-``seq`` row wins. One combine-enabled aggregate
    over the bounded probe slice — also the fold function a sink
    compaction must apply to keep state semantics."""
    pick = F.max_by(
        F.struct("n_fetches", "n_changes", "last_digest"), F.col("seq")
    ).alias("s")
    return (
        states.groupBy("b", "url")
        .agg(pick, F.max("seq").alias("seq"))
        .select(
            "b",
            "url",
            F.col("s.n_fetches").alias("n_fetches"),
            F.col("s.n_changes").alias("n_changes"),
            F.col("s.last_digest").alias("last_digest"),
            "seq",
        )
    )


def update_state_batch(
    obs: DataFrame, prior: DataFrame, seq: int
) -> DataFrame:
    """Apply one batch of observations to the prior latest state
    (bounded — broadcast): first fetch seeds the counters, a repeat
    fetch increments n_fetches always and n_changes iff the digest
    moved."""
    p = prior.select(
        "b",
        "url",
        F.col("n_fetches").alias("p_nf"),
        F.col("n_changes").alias("p_nc"),
        F.col("last_digest").alias("p_d"),
    )
    changed = (
        F.col("p_d").isNotNull() & (F.col("p_d") != F.col("digest"))
    ).cast("bigint")
    return (
        obs.join(F.broadcast(p), ["b", "url"], "left")
        .select(
            "b",
            "url",
            (F.coalesce("p_nf", F.lit(0)) + 1)
            .cast("bigint")
            .alias("n_fetches"),
            (F.coalesce("p_nc", F.lit(0)) + changed)
            .cast("bigint")
            .alias("n_changes"),
            F.col("digest").alias("last_digest"),
            F.lit(seq).cast("bigint").alias("seq"),
        )
    )


def schedule_from_state(state: DataFrame) -> DataFrame:
    """The batch operator's estimator formulas over live counters:
    change probability over observed intervals (n_fetches - 1),
    refetch interval floor(budget/(changes+1)) + 1, host for the
    politeness key. Pure arithmetic — no exchange beyond the state
    read."""
    intervals = F.greatest(F.col("n_fetches") - 1, F.lit(1))
    return state.select(
        url_host(F.col("url")).alias("host"),
        "url",
        "n_fetches",
        "n_changes",
        F.round(F.col("n_changes") / intervals.cast("double"), 6).alias(
            "p_change_r"
        ),
        (
            F.floor(F.lit(_RC_BUDGET) / (F.col("n_changes") + 1))
            + F.lit(1)
        )
        .cast("bigint")
        .alias("interval_i"),
    )


def init_recrawl_index(state: DataFrame, path: str) -> str:
    """Persist the standing per-URL state artifact: rows of
    (url, n_fetches, n_changes, last_digest) land bucket-partitioned
    with ``seq = -1`` so any streamed delta (batch id >= 0)
    supersedes them in ``latest_state``."""
    (
        state.select("url", "n_fetches", "n_changes", "last_digest")
        .withColumn("b", url_bucket(F.col("url")))
        .withColumn("seq", F.lit(-1).cast("bigint"))
        .repartition("b")
        .write.mode("overwrite")
        .partitionBy("b")
        .parquet(path)
    )
    return path


def attach_recrawl_stream(
    fetch_stream: DataFrame,
    out_path: str,
    index_path: str | None = None,
    url_col: str = "url",
    digest_col: str = "digest",
    on_summary: Callable[[dict], None] | None = None,
    checkpoint_dir: str | None = None,
):
    """Wire a fetch-result stream through recrawl-state maintenance.
    Updated counter deltas land exactly-once by batch id at
    ``out_path`` (columns: b, url, n_fetches, n_changes, last_digest,
    seq); ``index_path`` (optional) is the standing state artifact
    from ``init_recrawl_index``. ``on_summary`` (optional) receives
    per COMMITTED batch:

        {"batch_id": int, "n_urls": int, "n_new": int,
         "n_changed_ever": int}

    (n_new = first-ever fetches in the batch; n_changed_ever = batch
    URLs whose lifetime change count is nonzero — derivable from the
    durable delta alone, so a replayed batch reports identically)
    and never re-fires for a replayed batch. Returns the started
    StreamingQuery."""
    sink = IdempotentParquetSink(out_path)
    summary = {
        "n_urls": F.count("*"),
        "n_new": F.coalesce(
            F.sum((F.col("n_fetches") == 1).cast("bigint")), F.lit(0)
        ),
        "n_changed_ever": F.coalesce(
            F.sum(
                ((F.col("n_fetches") > 1) & (F.col("n_changes") > 0)).cast(
                    "bigint"
                )
            ),
            F.lit(0),
        ),
    }

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        obs = fetch_obs_batch(
            batch_df, url_col=url_col, digest_col=digest_col
        ).persist()
        try:
            seen = seen_rows(obs, sink, index_path, _STATE_COLS)
            if seen is None:
                prior = batch_df.sparkSession.createDataFrame(
                    [],
                    "b int, url string, n_fetches bigint, "
                    "n_changes bigint, last_digest string, seq bigint",
                )
            else:
                hits = seen.join(
                    F.broadcast(obs.select("b", "url")),
                    ["b", "url"],
                    "left_semi",
                )
                prior = latest_state(hits)
            upd = update_state_batch(obs, prior, seq=batch_id)
            land_and_summarize(sink, upd, batch_id, on_summary, summary)
        finally:
            obs.unpersist()

    return start_ingest(fetch_stream, on_batch, checkpoint_dir)
