"""Streaming TAKEDOWN ingest — the seventh door-check: deletion
requests consumed as a stream into tombstone deltas.

Deletion exists as a batch tool (operators/incremental.tombstone_keys
— takedowns without rebuild, probe-parity oracles on the LSH/IVF
artifacts), but in production takedown requests ARRIVE AS A STREAM:
a DMCA/GDPR/opt-out feed of keys that must leave the serving index
promptly and exactly once. This module wires a key stream through
the same two exactly-once primitives every other door-check rides:

- each micro-batch's distinct keys land DURABLY in an
  ``IdempotentParquetSink`` ledger (the audit trail a takedown
  pipeline is legally required to keep; replay of a committed batch
  id writes nothing),
- then a tombstone delta keyed by the batch id is committed to the
  artifact (``tombstone_keys`` — an already-committed key is a
  no-op), reading the keys back from the JUST-COMMITTED ledger
  directory, so the batch plan executes once and the two commits can
  never diverge on content.

Both steps are idempotent BY THE SAME BATCH ID, so a crash at any
point — before the ledger commit, between ledger and tombstone,
after both — replays to exactly the same end state: each key batch
tombstoned once (pinned across a checkpoint restart in
tests/test_takedown_ingest.py). Probes see deletions immediately via
``read_live_index``'s broadcast anti-join; ``compact_index`` later
drops the rows physically and carries nothing of the tombstone
forward (same lifecycle the batch takedowns follow).

At 100 TB: per-batch cost is the key batch itself (a tombstone delta
is a key list, not index rows); no rebuild, no corpus scan, and the
anti-join stays broadcast because takedown sets are small next to
the index. No streaming state store — stateless per batch, restart
safety is the sink's batch-id dedup plus the delta-key dedup.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamlit_flink_demo_spark.operators.incremental import (
    tombstone_keys,
)
from streamlit_flink_demo_spark.sinks import IdempotentParquetSink
from streamlit_flink_demo_spark.streaming.ingest import start_ingest


def attach_takedown_stream(
    key_stream: DataFrame,
    artifact_path: str,
    ledger_path: str,
    key_col: str = "vec_id",
    on_summary: Callable[[dict], None] | None = None,
    checkpoint_dir: str | None = None,
):
    """Wire a takedown key stream (one ``key_col`` column, extra
    columns ignored) into tombstone deltas on the artifact at
    ``artifact_path``. Keys land exactly-once in the ledger sink at
    ``ledger_path``; each committed batch becomes one idempotent
    tombstone delta (key ``takedown:b<batch_id>``). ``on_summary``
    (optional) receives ``{"batch_id", "n_keys", "tombstoned"}`` once
    per COMMITTED batch. Returns the started StreamingQuery."""
    sink = IdempotentParquetSink(ledger_path)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        ids = batch_df.select(F.col(key_col)).distinct()
        status = sink(ids, batch_id)
        # The tombstone commit reads the DURABLE ledger directory, so
        # (a) the batch plan ran exactly once, and (b) a crash between
        # the ledger commit and the tombstone commit replays into the
        # identical delta content. Run it on replays too — that replay
        # IS the crash-recovery path; an already-committed delta key
        # is a no-op. If a ledger compaction (sinks.compact_sink)
        # already folded this batch's directory away — before the read
        # OR mid-read (run_on_committed_batch closes the TOCTOU window
        # a bare isdir check leaves open) — fall back to the replayed
        # batch plan: Spark's replay contract delivers the identical
        # content, and the delta-key dedup makes a doubly recovered
        # batch (or a retried, partially-applied delta) a no-op.
        def commit_and_count(rows: DataFrame) -> tuple[bool, int]:
            tombstoned = tombstone_keys(
                artifact_path,
                f"takedown:b{batch_id}",
                rows,
                key_col=key_col,
            )
            return tombstoned, rows.count()

        tombstoned, n_keys = sink.run_on_committed_batch(
            batch_df.sparkSession, batch_id, ids, commit_and_count
        )
        if on_summary is None or status != "committed":
            return
        on_summary(
            {
                "batch_id": batch_id,
                "n_keys": n_keys,
                "tombstoned": tombstoned,
            }
        )

    return start_ingest(key_stream, on_batch, checkpoint_dir)
