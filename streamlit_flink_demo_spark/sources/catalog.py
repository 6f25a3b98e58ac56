"""Parquet-backed catalog.

The reference scopes every statement to a configured catalog/database
(reference ``api/statements.py:27-31``, ``config.template.ini:41-44``);
tables appear implicitly (Kafka topics become Flink tables).  Our batch
equivalent: a scale-factor directory of parquet files registered as temp
views, one per table.

Parquet + column pruning + predicate pushdown is the scan path that
survives 100 TB: Catalyst pushes filters and projections into the scan
(visible as ``PushedFilters`` / ``ReadSchema`` in ``.explain``), and
partitioned layouts prune entire files.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables that are always small relative to the fact tables and
# safe to broadcast at any scale factor (region: 5 rows, nation: 25 —
# fixed cardinality in the TPC-H-style schema regardless of SF).
ALWAYS_BROADCAST = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Parquet schemas, memoized per session (weak key) and per path:
# ``{path: (signature, schema)}``. Inferring a parquet schema launches
# a Spark job that re-reads a footer; a plan build reads the same stable
# tables and artifact indexes on every build. The signature is the
# on-disk identity of every file under the path plus the session's
# values of the confs that change inference, so a rewrite (in place or
# by rename) or a conf change re-infers; no invalidation hook is needed.
# Paths that are new on each call (per-batch and committed sink dirs,
# compaction and incremental deltas) stay on ``spark.read.parquet``:
# an entry per path there would only grow.
_PARQUET_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict[str, tuple]]" = (
    weakref.WeakKeyDictionary()
)
# (relative name, st_ino, st_size, st_mtime_ns) per file, sorted
_FileStats = tuple[tuple[str, int, int, int], ...]

_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)


def _file_stats(path: str) -> _FileStats:
    """``(relative name, st_ino, st_size, st_mtime_ns)`` of the file at
    ``path``, or of every file under the directory at ``path``, from one
    ``os.stat`` or one ``os.walk``. Raises ``FileNotFoundError`` when
    ``path`` does not exist."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return (("", st.st_ino, st.st_size, st.st_mtime_ns),)
    out = []
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            out.append(
                (os.path.relpath(full, path), st.st_ino, st.st_size, st.st_mtime_ns)
            )
    return tuple(sorted(out))


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, _FileStats]:
    """``read_parquet`` plus the file stats its signature was built from."""
    try:
        files = _file_stats(path)
    except FileNotFoundError:
        # missing, or not a local path: Spark reads it or raises its own error
        return spark.read.parquet(path), ()
    sig = (files, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    memo = _PARQUET_SCHEMAS.setdefault(spark, {})
    hit = memo.get(path)
    if hit is not None and hit[0] == sig:
        return spark.read.schema(hit[1]).parquet(path), files
    df = spark.read.parquet(path)
    memo[path] = (sig, df.schema)
    return df, files


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` for a path whose files outlive the
    call (a catalog table, an artifact index), with the inferred schema
    memoized per session. The first read of a path infers its schema,
    which runs a Spark job; later reads with the same files (name,
    inode, size, mtime) and the same inference confs pass the stored
    schema and run none. A missing path raises Spark's own error."""
    return _read_parquet(spark, path)[0]


def _load_table(
    spark: SparkSession, sf_dir: str, name: str
) -> tuple[DataFrame, _FileStats]:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    path = table_path(sf_dir, name)
    if name != "events":
        return _read_parquet(spark, path)
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # set before the read, so the schema memo keys on the value in force
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df, files = _read_parquet(spark, path)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df, files


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table through ``read_parquet``. The first read of a table
    in a session infers its schema, which runs one Spark job; later reads
    reuse the schema memoized under the table's file signature (name,
    inode, size and mtime of every file) and the session's parquet
    inference confs, and run no job until an action does.

    ``events.parquet`` has shipped ``ts`` in three vintages: parquet
    TIMESTAMP(NANOS) (which Spark refuses to map to TimestampType — we
    read nanos as LONG via the legacy conf and truncate to micros the
    way DuckDB does), TIMESTAMP(MICROS) without timezone (Spark maps it
    to TIMESTAMP_NTZ), and TIMESTAMP(MICROS) UTC.  Normalize all three
    to session-local TimestampType (session tz is pinned UTC in
    ``session.py``, so the NTZ cast is numerically the identity and
    agrees with DuckDB's naive read) so downstream operators always see
    one type.
    """
    return _load_table(spark, sf_dir, name)[0]


# Memoized scan-partition counts, keyed (weak session → table key):
# one RDD-conversion probe per table per SESSION instead of per
# operator call — the probe itself costs an analysis + JVM roundtrip +
# file listing, which at ~50 queries/session was measurable driver
# drag. The session dimension matters: split confs
# (maxPartitionBytes/defaultParallelism) are per-session, so a count
# memoized under one session must not leak into another; a stopped
# session's entries evaporate with the weak key. In-process file
# rewrites can still stale a live session's memo —
# ``clear_spread_cache()`` is the invalidation hook (pairs with
# ``plans.clear_plan_cache()``).
_SPREAD_PARTS: "weakref.WeakKeyDictionary[SparkSession, dict[str, int]]" = (
    weakref.WeakKeyDictionary()
)


def clear_spread_cache() -> None:
    _SPREAD_PARTS.clear()


def spread(df: DataFrame, n: int | None = None, key: str | None = None) -> DataFrame:
    """Round-robin repartition UP to engine parallelism before a
    compute-heavy per-row kernel (shingling, per-gram hashing, codec
    UDFs, JSON parsing, array explodes).

    Why: a parquet file is splittable only at row-group boundaries, so
    a single-row-group file scans as ONE task and every downstream
    narrow transform inherits that 1-task parallelism — the kernel
    runs on one core of the cluster. Spreading first costs one
    round-robin shuffle of the (pruned, filtered — Catalyst pushes
    both through Repartition) input rows, which is trivial next to the
    kernel it parallelizes.

    When NOT to use: cheap scans feeding aggregations/joins — partial
    aggregation in the scan stage beats an extra full-row shuffle
    (measured: plain groupBy 0.25 s direct vs 0.46 s spread at sf0.1).

    At 100 TB inputs arrive as many well-sized files, so the gate
    (only repartition UP, never down) makes this a no-op there; it
    exists for small/skewed file layouts, which also happen at scale
    (one giant consolidated file, a skewed compaction)."""
    spark = df.sparkSession
    target = n or spark.sparkContext.defaultParallelism
    memo = _SPREAD_PARTS.setdefault(spark, {}) if key is not None else None
    if memo is not None and key in memo:
        parts = memo[key]
    else:
        parts = df.rdd.getNumPartitions()
        if memo is not None:
            memo[key] = parts
    if parts >= target:
        return df
    return df.repartition(target)


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk bytes of table ``name`` in ``sf_dir``: the size of its
    parquet file, or the total size of every file under its parquet
    directory. The size gates on broadcasts and prefilters read it.

    Raises ``FileNotFoundError`` when the table is missing: reading a
    missing table as 0 bytes would silently pass every size gate."""
    return sum(f[2] for f in _file_stats(table_path(sf_dir, name)))


def load_spread(
    spark: SparkSession, sf_dir: str, name: str, min_bytes: int = 0
) -> DataFrame:
    """``spread(load_table(...))`` with the partition-count probe
    memoized per (sf_dir, table): the raw scan's split count is a
    property of the file layout, constant for the session.

    ``min_bytes`` gates the repartition by INPUT SIZE: below it the
    per-row kernel finishes faster than the round-robin shuffle costs;
    above it the kernel's single-task (or few-task) inheritance of the
    scan split dominates. Heavy kernels (shingle explodes, Arrow
    matmuls, per-gram hashing) pass 0 — they win from parallelism at
    any size measured. Cheap projection kernels pass ~32 MB: at sf0.1
    (≈5 MB documents) the shuffle is a measured 2-4× LOSS, while at
    10× replication (≈50 MB, one parquet file → few scan tasks) the
    unspread kernel goes super-linear (measured 6-21× for 10× data)."""
    df, files = _load_table(spark, sf_dir, name)
    # the size gate reuses the stats the schema memo walked for
    if min_bytes and sum(f[2] for f in files) < min_bytes:
        return df
    return spread(df, key=f"{sf_dir}/{name}")


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register every table in ``sf_dir`` as a temp view; return the dfs.

    Mirrors the reference's implicit catalog: after this, SQL can say
    ``FROM lineitem`` the way the reference says ``FROM `user```
    (reference ``dashboard.py:83``).
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
