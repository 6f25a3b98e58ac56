"""Frontier door-check (streaming/frontier_ingest.py): stream ≡ batch
twin on first-seen keys, cross-batch dedup, base-index probes with
bucket pruning, exactly-once restart replay."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from streamlit_flink_demo_spark.sinks import IdempotentParquetSink
from streamlit_flink_demo_spark.streaming.frontier_ingest import (
    attach_frontier_stream,
    canon_urls_batch,
    init_frontier_index,
    new_urls_batch,
    url_bucket,
)

# Batch 0: messy variants of the same canonical target + two distinct
# URLs. Batch 1: one rediscovery (must be dropped) + one genuinely new.
_B0 = [
    (1, "HTTP://Example.COM:80/a?utm_source=x&k=1#frag"),
    (2, "http://example.com/a?k=1"),
    (3, "https://other.net/p"),
    (3, "/rel/path"),
]
_B1 = [
    (4, "http://example.com/a?k=1&utm_campaign=y"),  # seen in B0
    (5, "https://other.net/q"),  # new
]


def _write_batch(spark, spool, n, rows):
    df = spark.createDataFrame(rows, "doc_id bigint, raw string")
    staging = os.path.join(spool, f"_stage_{n}")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
    os.replace(
        os.path.join(staging, part), os.path.join(spool, f"b{n:04d}.parquet")
    )


def _stream(spark, spool):
    return (
        spark.readStream.schema("doc_id bigint, raw string")
        .option("maxFilesPerTrigger", 1)
        .parquet(spool)
    )


def test_canon_batch_collapses_variants(spark):
    out = {
        r["url"]: r
        for r in canon_urls_batch(
            spark.createDataFrame(_B0, "doc_id bigint, raw string")
        ).collect()
    }
    # messy variants of /a?k=1 collapsed into one row with both refs
    assert out["http://example.com/a?k=1"]["n_refs"] == 2
    assert out["http://example.com/a?k=1"]["host"] == "example.com"
    # relative href resolved against the corpus base
    assert "http://example.com/rel/path" in out
    assert len(out) == 3


def test_new_urls_batch_probes_seen(spark):
    canon = canon_urls_batch(
        spark.createDataFrame(_B0, "doc_id bigint, raw string")
    )
    seen = spark.createDataFrame(
        [("http://example.com/a?k=1",)], "url string"
    ).select(url_bucket(F.col("url")).alias("b"), "url")
    new = {r["url"] for r in new_urls_batch(canon, seen).collect()}
    assert new == {"http://example.com/rel/path", "https://other.net/p"}


def test_stream_dedups_across_batches_and_base_index(spark, tmp_path):
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    out = str(tmp_path / "frontier")
    base = str(tmp_path / "seen_base")
    # other.net/p is ALREADY in the standing index: B0 must drop it
    init_frontier_index(
        spark.createDataFrame([("https://other.net/p",)], "url string"),
        base,
    )
    summaries: list[dict] = []
    q = attach_frontier_stream(
        _stream(spark, spool),
        out,
        index_path=base,
        on_summary=summaries.append,
        checkpoint_dir=str(tmp_path / "ck"),
    )
    try:
        _write_batch(spark, spool, 0, _B0)
        q.processAllAvailable()
        _write_batch(spark, spool, 1, _B1)
        q.processAllAvailable()
    finally:
        q.stop()

    rows = IdempotentParquetSink(out).read_committed(spark).collect()
    urls = sorted(r["url"] for r in rows)
    # B0: variants collapse to /a?k=1 + rel path (other.net/p is in
    # the base index); B1: only /q is new (a?k=1 seen in B0's output)
    assert urls == [
        "http://example.com/a?k=1",
        "http://example.com/rel/path",
        "https://other.net/q",
    ]
    assert len(urls) == len(set(urls))  # no cross-batch duplicates
    assert [s["batch_id"] for s in summaries] == [0, 1]
    assert summaries[0]["n_urls"] == 3 and summaries[0]["n_new"] == 2
    assert summaries[1]["n_urls"] == 2 and summaries[1]["n_new"] == 1

    # stream ≡ batch twin on first-seen keys: the union of emitted
    # URLs equals the batch frontier minus the base index
    all_links = spark.createDataFrame(
        _B0 + _B1, "doc_id bigint, raw string"
    )
    twin = {
        r["url"]
        for r in new_urls_batch(
            canon_urls_batch(all_links), spark.read.parquet(base)
        ).collect()
    }
    assert set(urls) == twin


def test_base_index_schema_is_memoized_across_batches(
    spark, tmp_path, monkeypatch
):
    """Every microbatch reads the base index through
    ``catalog.read_parquet`` with the one session object the ingest
    runner hands its batches, so its schema is inferred once per run,
    not once per batch."""
    from streamlit_flink_demo_spark.sources import catalog

    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    base = str(tmp_path / "seen_base")
    init_frontier_index(
        spark.createDataFrame([("https://other.net/p",)], "url string"), base
    )
    reads = []
    real = catalog._read_parquet

    def spy(session, path):
        reads.append((session, path))
        return real(session, path)

    monkeypatch.setattr(catalog, "_read_parquet", spy)
    q = attach_frontier_stream(
        _stream(spark, spool), str(tmp_path / "frontier"), index_path=base
    )
    try:
        for n, rows in enumerate((_B0, _B1, [(6, "https://third.org/x")])):
            _write_batch(spark, spool, n, rows)
            q.processAllAvailable()
    finally:
        q.stop()
    sessions = [s for s, p in reads if p == base]
    assert len(sessions) == 3
    assert all(s is sessions[0] for s in sessions)
    assert base in catalog._PARQUET_SCHEMAS[sessions[0]]


def test_restart_replay_is_exactly_once(spark, tmp_path):
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    out = str(tmp_path / "frontier")
    ck = str(tmp_path / "ck")
    summaries: list[dict] = []

    q = attach_frontier_stream(
        _stream(spark, spool), out,
        on_summary=summaries.append, checkpoint_dir=ck,
    )
    try:
        _write_batch(spark, spool, 0, _B0)
        q.processAllAvailable()
    finally:
        q.stop()

    q2 = attach_frontier_stream(
        _stream(spark, spool), out,
        on_summary=summaries.append, checkpoint_dir=ck,
    )
    try:
        q2.processAllAvailable()  # replays committed batch 0
        _write_batch(spark, spool, 1, _B1)
        q2.processAllAvailable()
    finally:
        q2.stop()

    rows = IdempotentParquetSink(out).read_committed(spark).collect()
    urls = sorted(r["url"] for r in rows)
    assert len(urls) == len(set(urls)) == 4  # no replay duplicates
    assert [s["batch_id"] for s in summaries] == [0, 1]


def test_base_index_probe_prunes_partitions(spark, tmp_path):
    """The per-batch base-index read filters on the batch's bucket
    list — the scan's partition filters must carry the isin(b) so a
    100 TB index reads only the touched buckets."""
    base = str(tmp_path / "seen_base")
    init_frontier_index(
        spark.createDataFrame(
            [(f"http://example.com/p{i}",) for i in range(50)],
            "url string",
        ),
        base,
    )
    probe = spark.read.parquet(base).where(F.col("b").isin([3, 7]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "b#" in plan
    # and the filtered read returns only those buckets' rows
    assert {r["b"] for r in probe.collect()} <= {3, 7}


def test_sink_compaction_preserves_cross_batch_dedup(spark, tmp_path):
    """The frontier sink compacts like any IdempotentParquetSink: after
    folding committed batches into one compact generation, the seen
    side still contains every emitted URL (read_committed sees the
    compacted dir) and a later batch still drops rediscoveries."""
    from streamlit_flink_demo_spark.sinks import compact_sink

    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    out = str(tmp_path / "frontier")
    ck = str(tmp_path / "ck")

    q = attach_frontier_stream(
        _stream(spark, spool), out, checkpoint_dir=ck
    )
    try:
        _write_batch(spark, spool, 0, _B0)
        q.processAllAvailable()
    finally:
        q.stop()

    folded = compact_sink(spark, out, target_partitions=1)
    assert folded == 1

    q2 = attach_frontier_stream(
        _stream(spark, spool), out, checkpoint_dir=ck
    )
    try:
        _write_batch(spark, spool, 1, _B1)
        q2.processAllAvailable()
    finally:
        q2.stop()

    rows = IdempotentParquetSink(out).read_committed(spark).collect()
    urls = sorted(r["url"] for r in rows)
    # B1's rediscovery of /a?k=1 was dropped against the COMPACTED
    # seen set; only /q is new
    assert urls == [
        "http://example.com/a?k=1",
        "http://example.com/rel/path",
        "https://other.net/p",
        "https://other.net/q",
    ]
    assert len(urls) == len(set(urls))
