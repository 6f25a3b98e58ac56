"""The delivery loop every ``attach_*`` ingest pipeline shares.

Each door-check (near-dup, semantic, contamination, extract, CDC, span
cleanup, frontier, recrawl, takedown, trending terms, vector ingest)
is a per-batch function of the arriving micro-batch. Around it sits
one exactly-once loop — Structured Streaming's ``foreachBatch`` over
an idempotent sink (SIGMOD 2018):

- the batch's rows land DISTRIBUTED in an ``IdempotentParquetSink``,
  exactly-once by batch id: a replayed batch (restart recovery)
  rewrites nothing, and no row is ever collected on the driver;
- the optional ``on_summary`` callback receives ONE bounded digest
  dict per COMMITTED batch id and never re-fires for a replay, so a
  consumer accumulating counts across restarts never double-counts;
- the digest is aggregated from the just-committed durable batch
  directory, not by re-executing the batch plan. If a concurrent
  compaction folded the directory away before or during that read,
  ``run_on_committed_batch`` re-runs the aggregate on the batch plan
  instead of killing the query;
- frames a pipeline persisted at attach time (corpus indexes) are
  unpersisted when its query terminates.

``land_and_summarize`` is the per-batch half and ``start_ingest`` the
per-query half.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession

from streamlit_flink_demo_spark.sinks import IdempotentParquetSink


def land_and_summarize(
    sink: IdempotentParquetSink,
    rows: DataFrame,
    batch_id: int,
    on_summary: Callable[[dict], None] | None,
    aggs: dict[str, Column],
    extra: Callable[[], dict] | None = None,
) -> None:
    """Land ``rows`` as batch ``batch_id`` and, for a committed batch
    only, hand ``on_summary`` the dict ``{"batch_id", **extra(),
    **aggs}`` with ``aggs`` aggregated over the durable batch
    directory. ``extra`` supplies fields the landed rows cannot (it is
    called only when a summary fires)."""
    status = sink(rows, batch_id)
    if on_summary is None or status != "committed":
        return
    row = sink.run_on_committed_batch(
        rows.sparkSession,
        batch_id,
        rows,
        lambda df: df.agg(*(c.alias(k) for k, c in aggs.items())).first(),
    )
    on_summary(
        {"batch_id": batch_id, **(extra() if extra else {}), **row.asDict()}
    )


def start_ingest(
    stream: DataFrame,
    on_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str | None,
    persisted: list[DataFrame] | None = None,
):
    """Start ``stream`` in append mode through ``on_batch`` and return
    the StreamingQuery. ``persisted``, when given, is unpersisted when
    the query terminates; it is read at that time, so a pipeline that
    swaps its cached frames mid-stream passes the live list (even an
    empty one)."""
    held: list[SparkSession] = []

    def run(batch: DataFrame, batch_id: int) -> None:
        # PySpark wraps each microbatch's stream session, the same JVM
        # session for the whole run, in a new SparkSession object. Hand
        # on_batch one object per run, so per-session memos (the parquet
        # schemas of ``catalog.read_parquet``) carry across its batches.
        jsession = batch.sparkSession._jsparkSession
        if held and held[0]._jsparkSession.equals(jsession):
            batch = DataFrame(batch._jdf, held[0])
        else:
            held[:] = [batch.sparkSession]
        on_batch(batch, batch_id)

    writer = stream.writeStream.outputMode("append").foreachBatch(run)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    query = writer.start()
    if persisted is not None:
        _unpersist_on_termination(stream.sparkSession, query.id, persisted)
    return query


def _unpersist_on_termination(spark, query_id, frames) -> None:
    """Register a one-shot ``StreamingQueryListener`` that unpersists
    ``frames`` when the query with ``query_id`` terminates (stop or
    failure), then removes itself — long-lived sessions that attach
    and stop many ingest streams don't leak cached corpus frames."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Cleanup(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            pass

        def onQueryTerminated(self, event):
            if str(event.id) != str(query_id):
                return
            for f in frames:
                try:
                    f.unpersist()
                except Exception:
                    pass  # session already stopped — nothing cached
            try:
                spark.streams.removeListener(self)
            except Exception:
                pass

    spark.streams.addListener(_Cleanup())
