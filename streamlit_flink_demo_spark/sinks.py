"""Batch sinks: deterministic training-shard writer.

The reference's sinks are client-side (pandas frames feeding Streamlit
widgets — `dashboard.py`); those live in changelog.py. This module is
the batch counterpart a training pipeline needs: materialize a corpus
as N parquet shards whose assignment AND within-shard order are pure
functions of the data (operators/sampling.py docs_shuffle_shard is the
accounting view of the same layout), so a re-run over 100 TB produces
byte-identical shards and a data loader can resume mid-epoch.

Layout: ``<path>/shard=<k>/part-*.parquet`` — one directory per shard
(Spark partitioned layout, so shard-pruned reads are free), exactly one
file per shard directory, rows ordered by the shuffle sort key.

Scale posture: one hash repartition on the shard id (the only shuffle),
sortWithinPartitions (shard-local sort, never a global sort), then a
direct parquet write. Shard count should scale with the corpus
(~1-4 GB per shard at 100 TB → tens of thousands of shards); the
writer takes it as a parameter rather than guessing.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamlit_flink_demo_spark.functions.hashing import u60
from streamlit_flink_demo_spark.sources.catalog import read_parquet

# Signatures of "the path vanished under the read" across the places it
# can surface: AnalysisException PATH_NOT_FOUND at plan time, the JVM
# File(NotFound|NoSuchFile) exceptions at scan time (directory listed,
# files deleted before the task opened them).
_MISSING_PATH_MARKERS = (
    "PATH_NOT_FOUND",
    "FileNotFoundException",
    "NoSuchFileException",
    "does not exist",
)


def _is_missing_path_error(exc: BaseException) -> bool:
    msg = str(exc)
    return any(m in msg for m in _MISSING_PATH_MARKERS)


def with_shard(df: DataFrame, key_col: str, n_shards: int) -> DataFrame:
    """Add deterministic ``sort_key`` / ``shard`` columns derived from
    u60('shuf:' || key) — the same derivation docs_shuffle_shard
    verifies against the DuckDB oracle."""
    sort_key = u60(F.concat(F.lit("shuf:"), F.col(key_col).cast("string")))
    return df.withColumn("sort_key", sort_key).withColumn(
        "shard", F.col("sort_key") % n_shards
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str = "doc_id",
    n_shards: int = 16,
) -> None:
    """Write ``df`` as ``n_shards`` deterministic parquet shards.

    repartition(n_shards, shard) maps each shard id to exactly one
    task, so each shard directory gets exactly one file (no small-file
    explosion). sortWithinPartitions leads with the partition column:
    the dynamic-partition writer would otherwise inject its own
    (unstable) sort on 'shard' and scramble the secondary order — with
    the shard-first sort already in place it writes rows as-is, in the
    (sort_key, key) order the docs_shuffle_shard oracle pins via
    ROW_NUMBER()."""
    keyed = with_shard(df, key_col, n_shards)
    (
        keyed.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "sort_key", key_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def read_shard(spark: SparkSession, path: str, shard: int) -> DataFrame:
    """Read one shard via partition pruning (no other shard's files
    are touched — the pushed filter on the partition column prunes
    directories, not rows)."""
    return read_parquet(spark, path).filter(F.col("shard") == shard)


# --------------------------------------------------------------------------
# Exactly-once streaming parquet sink (idempotent by batch id)
# --------------------------------------------------------------------------


class IdempotentParquetSink:
    """``foreachBatch`` sink that lands each microbatch under
    ``<path>/batch_id=<id>/`` and records it in an atomically-replaced
    commit manifest — exactly-once file output on top of foreachBatch's
    at-least-once contract:

    - a REPLAYED batch id (restart recovery) short-circuits: the data
      is already durable, nothing is rewritten;
    - a batch that crashed mid-write leaves an uncommitted directory
      that ``read_committed`` never exposes; the replay overwrites it
      and only then commits the id;
    - the manifest write is a tmp-file + ``os.replace`` (atomic on
      POSIX), so readers see the old or the new manifest, never a torn
      one.

    Scale posture: the batch write is a normal distributed parquet job
    (partitioned however the batch plan partitions); only the manifest
    touch is driver-side, O(committed batches) bytes. Compaction of
    many small batch directories is an offline job over committed ids
    — the same pattern every table format builds on."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _manifest_path(self) -> str:
        return os.path.join(self.path, "_commits.json")

    def _manifest_lock(self):
        """Advisory flock serializing manifest read-modify-write
        cycles ACROSS sink instances and processes: the live sink's
        commit and compact_sink's repoint both mutate the manifest,
        and an unlocked interleaving (compaction rewrites batch_ids
        from a stale read) would silently dereference a batch the
        stream committed mid-compaction."""
        import contextlib
        import fcntl

        @contextlib.contextmanager
        def lock():
            with open(os.path.join(self.path, "_commits.lock"), "w") as fh:
                fcntl.flock(fh, fcntl.LOCK_EX)
                try:
                    yield
                finally:
                    fcntl.flock(fh, fcntl.LOCK_UN)

        return lock()

    def _read_manifest(self) -> dict:
        """Manifest: ``batch_ids`` (live streaming batches),
        ``compactions`` (live compaction generations — a DISJOINT id
        space, so a compacted directory can never collide with a Spark
        batch id), ``watermark`` (highest streaming batch id folded
        into any compaction; replays at or below it are already
        durable inside a compaction and must be skipped)."""
        try:
            with open(self._manifest_path()) as fh:
                m = json.load(fh)
        except (OSError, ValueError):
            m = {}
        return {
            "batch_ids": sorted(m.get("batch_ids", [])),
            "compactions": sorted(m.get("compactions", [])),
            "watermark": m.get("watermark", -1),
        }

    def _write_manifest(self, m: dict) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "batch_ids": sorted(m["batch_ids"]),
                    "compactions": sorted(m["compactions"]),
                    "watermark": m["watermark"],
                },
                fh,
            )
        os.replace(tmp, self._manifest_path())

    def batch_dir(self, batch_id: int) -> str:
        """Durable directory of one committed batch — read THIS for
        per-batch summaries instead of re-executing the batch plan."""
        return os.path.join(self.path, f"batch_id={batch_id}")

    def run_on_committed_batch(
        self, spark: SparkSession, batch_id: int, fallback: DataFrame, action
    ):
        """Run ``action`` (an EAGER function of a DataFrame — an
        aggregation's ``.first()``, a delta commit) over the
        just-committed batch's durable directory, re-running it on
        ``fallback`` (the batch plan) when a concurrent sink
        compaction/fold truncated the directory either before the read
        or between the read and the action (the TOCTOU window a bare
        isdir + lazy read leaves open). A per-batch side effect must
        never kill the stream over a maintenance race; the rare
        fallback re-executes one batch plan, nothing more. Failures
        unrelated to the missing path propagate unchanged."""
        d = self.batch_dir(batch_id)
        if os.path.isdir(d):
            try:
                return action(spark.read.parquet(d))
            except Exception as exc:  # noqa: BLE001 — filtered below
                if not _is_missing_path_error(exc):
                    raise
        return action(fallback)

    def committed_ids(self) -> list[int]:
        """Live streaming batch ids (excludes batches already folded
        into a compaction — those are covered by the watermark)."""
        return self._read_manifest()["batch_ids"]

    def __call__(self, batch_df: DataFrame, batch_id: int) -> str:
        """Land one microbatch. Returns ``"committed"`` when this call
        durably wrote the batch, ``"replayed"`` when the id was already
        committed (directly or folded through a compaction) — callers
        with per-batch side effects (summaries, counters) should fire
        them only on ``"committed"`` to keep exactly-once semantics
        end-to-end instead of at-least-once."""
        m = self._read_manifest()
        if batch_id in set(m["batch_ids"]) or batch_id <= m["watermark"]:
            # Replay of a committed batch (directly committed, or
            # folded through a compaction): nothing is WRITTEN — but
            # the batch must still be CONSUMED. On Spark 4.x a
            # stateful plan (dropDuplicates, stream-stream join,
            # watermarked window agg) commits its state stores as part
            # of executing the batch plan; returning without an action
            # fails STATE_STORE_COMMIT_VALIDATION and, since every
            # restart replays the same batch, wedges the query
            # permanently. The noop write executes the full plan
            # distributed-side and discards the rows.
            batch_df.write.format("noop").mode("overwrite").save()
            return "replayed"
        (
            batch_df.write.mode("overwrite").parquet(
                os.path.join(self.path, f"batch_id={batch_id}")
            )
        )
        with self._manifest_lock():
            # re-read under the lock: a concurrent compaction may have
            # repointed the manifest while this batch was writing.
            m = self._read_manifest()
            if batch_id not in m["batch_ids"] and batch_id > m["watermark"]:
                m["batch_ids"].append(batch_id)
                self._write_manifest(m)
        return "committed"

    def _data_dirs(self, m: dict | None = None) -> list[str]:
        """Every live data directory: compactions first (older rows),
        then uncompacted streaming batches. Pass a pre-read manifest
        ``m`` to derive the set from ONE snapshot (compact_sink needs
        this — two reads race a live sink's commit)."""
        if m is None:
            m = self._read_manifest()
        return [
            os.path.join(self.path, f"compact={g}") for g in m["compactions"]
        ] + [os.path.join(self.path, f"batch_id={b}") for b in m["batch_ids"]]

    def read_committed(self, spark: SparkSession) -> DataFrame:
        """Exactly-once view: union of committed batch directories and
        compaction directories only (uncommitted crash debris is
        invisible)."""
        dirs = self._data_dirs()
        if not dirs:
            raise ValueError(f"no committed batches under {self.path}")
        return spark.read.parquet(*dirs)


def compact_sink(
    spark: SparkSession, path: str, target_partitions: int = 8
) -> int:
    """Offline compaction for an ``IdempotentParquetSink`` directory:
    fold every live data directory (committed batches + prior
    compactions) into one consolidated ``compact=<gen>`` directory,
    then atomically repoint the manifest at it.

    Compacted data lives OUTSIDE Spark's batch-id space on purpose: an
    earlier design reused ``max(committed)+1``, which is exactly the
    next batchId Spark's checkpoint assigns after a restart — that
    batch hit the replay short-circuit and its rows were silently
    dropped, while a sink-committed batch replayed after compaction was
    no longer in the manifest and got duplicated. Instead the manifest
    records a folded-through ``watermark`` (max streaming id folded);
    ``__call__`` skips any ``batch_id <= watermark`` and new batch ids
    above it append normally.

    Readers using ``read_committed`` see the old directory set or the
    compacted one, never a mix: until the manifest replace, every old
    directory is intact and the new one is unreferenced; a crash at any
    point leaves only unreferenced debris, which ``read_committed``
    already ignores. Old directories are removed only after the
    repoint. Returns the number of directories folded.

    At 100 TB this is the standard background job every table format
    schedules: read committed files, rewrite at target file sizes,
    single atomic metadata swap."""
    import shutil

    sink = IdempotentParquetSink(path)
    m = sink._read_manifest()
    # Derive the fold set from the ONE snapshot `m` — a second
    # manifest read would race a live sink's commit: the new batch
    # would be folded into the compaction (in src_dirs) yet kept in
    # batch_ids at the repoint (absent from folded_batches), its rows
    # duplicated, then its directory deleted while still referenced.
    src_dirs = sink._data_dirs(m)
    if len(src_dirs) <= 1:
        return len(src_dirs)
    # Fold exactly the SNAPSHOT this function already took (src_dirs):
    # read_committed() would re-read the manifest and could pick up a
    # batch the live sink commits between the snapshot and here — that
    # batch would be folded into the compaction AND carried over in
    # batch_ids (it is not in folded_batches), duplicating its rows.
    df = spark.read.parquet(*src_dirs)
    new_gen = (max(m["compactions"]) if m["compactions"] else -1) + 1
    tmp_dir = os.path.join(path, "_compacting")
    shutil.rmtree(tmp_dir, ignore_errors=True)
    df.coalesce(target_partitions).write.mode("overwrite").parquet(tmp_dir)
    final = os.path.join(path, f"compact={new_gen}")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp_dir, final)
    folded_batches = set(m["batch_ids"])
    folded_compactions = set(m["compactions"])
    with sink._manifest_lock():
        # Repoint under the manifest lock, CARRYING OVER anything the
        # live sink committed while the compacted file was being
        # written: only what this compaction actually folded (the
        # snapshot read above) leaves batch_ids — a blind
        # `batch_ids: []` rewrite would silently dereference a batch
        # committed mid-compaction (data dir present, never replayed,
        # invisible forever).
        now = sink._read_manifest()
        sink._write_manifest(
            {
                "batch_ids": [
                    b for b in now["batch_ids"] if b not in folded_batches
                ],
                "compactions": [new_gen]
                + [
                    c
                    for c in now["compactions"]
                    if c not in folded_compactions
                ],
                "watermark": max([now["watermark"]] + m["batch_ids"]),
            }
        )
    for d in src_dirs:
        shutil.rmtree(d, ignore_errors=True)
    return len(src_dirs)
