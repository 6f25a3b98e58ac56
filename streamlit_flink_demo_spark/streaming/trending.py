"""Trending terms over a document stream (windowed heavy hitters).

The streaming twin of ``docs_heavy_hitters`` (operators/text.py): which
tokens are surging RIGHT NOW, per event-time window — the monitoring
query a live ingest pipeline runs next to its dedup/contamination
screens (vocabulary drift, spam bursts, crawler loops all show up as a
token suddenly dominating a window).

Composition, Spark-first:

1. ``windowed_term_counts`` — tokenize (the embed/BM25 tokenizer:
   lower, split on non-alphanumeric), explode, and count per
   (event-time window, token). The SAME function runs on a batch frame
   (no watermark) and on a stream (watermarked) — the twin contract
   every streaming module here pins.
2. Append output mode: a (window, token) row is emitted exactly once,
   when the watermark passes the window end — and because the
   watermark is query-global, EVERY token row of a closing window
   flushes in the SAME micro-batch. That invariant is what makes
   per-batch ranking correct:
3. ``foreachBatch`` ranks each batch's rows per window (top-k by
   count, token tie-break) and lands the winners in an
   ``IdempotentParquetSink`` — finalized, exactly-once trending rows
   under the delivery contract of ``streaming/ingest.py`` (an optional
   one-row summary per COMMITTED batch id; a replay re-fires
   nothing).

Scale posture: state is the open windows' (window, token) partial
counts, watermark-evicted; the per-batch rank sees only finalized rows
(≤ |vocab in window| per window); nothing ever collects on the driver
but the one-row summary. Late rows inside the watermark still count;
rows later than the watermark are dropped by the stateful agg — both
behaviors pinned in tests/test_streaming_trending.py.

Reference scope: the reference demo's statements stop at plain
streaming GROUP BY (SURVEY.md §2.3); this is §2-adjacent streaming
breadth in the same tier as the session windows and the ingest-time
dedup/contamination screens.
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

_TRENDING_TOPK = 5


def windowed_term_counts(
    docs: DataFrame,
    *,
    ts: str = "ts",
    text: str = "text",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """(window_start, window_end, token, n) term counts per event-time
    window. Tokenizer = the engine's embed/BM25 one (lower, split on
    [^a-z0-9]+). Watermark applies only when ``docs`` is streaming, so
    the identical call is the batch twin."""
    if docs.isStreaming:
        docs = docs.withWatermark(ts, watermark)
    toks = F.filter(
        F.split(F.lower(F.col(text)), "[^a-z0-9]+"),
        lambda t: t != F.lit(""),
    )
    win = (
        F.window(F.col(ts), window, slide)
        if slide is not None
        else F.window(F.col(ts), window)
    )
    return (
        docs.select(win.alias("w"), F.explode(toks).alias("token"))
        .groupBy("w", "token")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "token",
            "n",
        )
    )


def topk_per_window(counts: DataFrame, topk: int = _TRENDING_TOPK) -> DataFrame:
    """Rank finalized (window, token, n) rows per window: top-k by
    count desc, token asc. Batch-side only (window functions are not
    allowed on streaming frames) — called inside foreachBatch where
    the rows ARE a batch, and by the batch twin directly."""
    from pyspark.sql import Window as W

    w = W.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("token")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= topk)
        .select("window_start", "window_end", "token", "n", "rank")
    )


def attach_trending_stream(
    doc_stream: DataFrame,
    out_path: str,
    on_summary: Callable[[dict], None] | None = None,
    checkpoint_dir: str | None = None,
    *,
    ts: str = "ts",
    text: str = "text",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
    topk: int = _TRENDING_TOPK,
):
    """Wire a (ts, text) document stream through windowed term counting
    into per-window top-k trending rows, landed in an
    ``IdempotentParquetSink`` at ``out_path`` under the delivery
    contract of ``streaming/ingest.py``. Returns the started
    ``StreamingQuery``. ``on_summary`` (optional) receives per
    COMMITTED batch id ``{"batch_id", "n_windows", "n_rows",
    "max_count"}``."""
    counts = windowed_term_counts(
        doc_stream,
        ts=ts,
        text=text,
        window=window,
        slide=slide,
        watermark=watermark,
    )
    sink = IdempotentParquetSink(out_path)
    summary = {
        "n_windows": F.countDistinct("window_start"),
        "n_rows": F.count("*"),
        "max_count": F.max("n"),  # None for a batch that closed no window
    }

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        ranked = topk_per_window(batch, topk)
        land_and_summarize(sink, ranked, batch_id, on_summary, summary)

    return start_ingest(counts, on_batch, checkpoint_dir)
