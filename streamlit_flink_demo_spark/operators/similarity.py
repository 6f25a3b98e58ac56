"""Similarity search over the ``embeddings`` table (array<float>, 64-d).

- ``ann_cosine_topk``: exact brute-force top-k — the correctness
  baseline. Query set is broadcast; per-row cosine is a narrow JVM-side
  higher-order-function expression; top-k is one shuffle on query id.
- ``ann_lsh_topk``: the scale path — random-hyperplane LSH buckets cut
  the candidate set before exact re-ranking; at 100 TB the bucket join
  replaces the full cross product.  Hyperplane weights are ±1 derived
  from md5 (deterministic, no driver-side randomness to ship).
- ``dedup_embedding_cosine``: near-duplicate pairs via the same LSH
  bucketing (threshold ``_NEAR_DUP_COS`` = 0.45 — tuned to the
  synthetic corpus's similarity distribution; a production corpus
  would run ≥0.9).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamlit_flink_demo_spark.functions.vectors import (
    cosine,
    cosine_pairs_arrow,
    cosine_sql,
    dot,
    norm,
)
from streamlit_flink_demo_spark.plans import register, track_persist
from streamlit_flink_demo_spark.sources.catalog import (
    load_spread,
    load_table,
    read_parquet,
    table_path,
)

_DIM = 64
_N_QUERIES = 5
_TOPK = 10

_ANN_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id < {_N_QUERIES}
),
scored AS (
  SELECT q.q_id, e.vec_id,
         {cosine_sql('q.q_emb', 'e.embedding', _DIM)} AS cos_sim
  FROM q JOIN embeddings e ON e.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored
)
SELECT q_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= {_TOPK}
"""


@register("ann_cosine_topk", oracle=_ANN_ORACLE, tags=("similarity", "ann"))
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k for a broadcast query set.

    The dot products run as built-in higher-order functions (zip_with +
    aggregate) in double with fixed fold order — JVM-side, codegen'd,
    and bit-identical to the oracle's sequential list sum. Top-k is a
    rank window partitioned by query id (k small → rank-limit pushdown
    keeps state tiny)."""
    e = load_spread(spark, sf_dir, "embeddings")
    # Hoist the norms out of the pair loop: candidate norms are one
    # narrow pass over the table, query norms live in the broadcast —
    # the scoring join then does ONE dot product per pair instead of
    # three. Same IEEE values as computing cosine inline (the oracle's
    # inline norms produce identical doubles).
    cand = e.select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("c_norm")
    )
    q = F.broadcast(
        cand.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col("c_norm").alias("q_norm"),
        )
    )
    scored = (
        q.join(cand, F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (
                dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos_sim"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOPK)
        .select("q_id", "vec_id", "cos_sim", "rk")
    )


# --------------------------------------------------------------------------
# LSH machinery (random hyperplanes, md5-derived ±1 weights)
# --------------------------------------------------------------------------

_N_PLANES = 8
_N_BANDS = 4  # top-k ANN: 4 tables × 2 planes — P(candidate) =
# 1-(1-p²)⁴ keeps recall high; the tiny broadcast query side makes the
# coarse 4-buckets-per-band pruning affordable (work ∝ n/4 per query).

# Near-dup pairing is a SELF-join: bucket size drives quadratic cost,
# so it needs far more selective buckets — 4 tables × 8 planes
# (256 buckets/band). Recall concentrates on truly-similar pairs
# (cos 0.95 → ~90% with 4 bands), which is the production use case.
_DUP_PLANES_PER_BAND = 8
_DUP_BANDS = 4


def _plane_weights(n_planes: int, salt: str = "") -> list[list[float]]:
    """±1 hyperplane weights from md5(p:d) parity — computed ONCE on
    the driver (they're constants) and baked into the plan as array
    literals; the per-row cost is a plain dot product, no hashing."""
    import hashlib

    return [
        [
            1.0
            if int(
                hashlib.md5(f"{salt}{p}:{d}".encode()).hexdigest()[:15], 16
            ) % 2 == 0
            else -1.0
            for d in range(_DIM)
        ]
        for p in range(n_planes)
    ]


_PLANES_PER_BAND = _N_PLANES // _N_BANDS


def _sigs_sql(
    n_bands: int,
    planes_per_band: int,
    salt: str = "",
    extra: str = "",
    src: str = "embeddings",
) -> str:
    """DuckDB CTE body producing (vec_id, embedding, band, bsig) —
    the exact banded signatures of ``_banded_sigs_arrow``. The ±1
    hyperplane weights are baked in as literal DOUBLE arrays; each
    projection is a sequential left-to-right double sum, which agrees
    in sign with the numpy matmul except when |projection| ~ 1e-15
    (measure-zero for float embeddings; swept clean at sf0.01/0.1)."""
    weights = _plane_weights(n_bands * planes_per_band, salt)
    branches = []
    for band in range(n_bands):
        terms = []
        for r in range(planes_per_band):
            w = weights[band * planes_per_band + r]
            w_lit = "[" + ",".join(str(int(v)) for v in w) + "]::DOUBLE[]"
            proj = (
                f"list_aggregate([embedding[i+1]::DOUBLE * ({w_lit})[i+1] "
                f"for i in range({_DIM})], 'sum')"
            )
            terms.append(f"(CASE WHEN {proj} >= 0 THEN {1 << r} ELSE 0 END)")
        bsig = " + ".join(terms)
        branches.append(
            f"SELECT vec_id, embedding{extra}, {band} AS band, "
            f"({bsig}) AS bsig FROM {src}"
        )
    return "\nUNION ALL\n".join(branches)


_LSH_TOPK_ORACLE = f"""
WITH sigs AS (
{_sigs_sql(_N_BANDS, _PLANES_PER_BAND)}
),
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb, band, bsig
  FROM sigs WHERE vec_id < {_N_QUERIES}
),
cand AS (
  SELECT q.q_id, s.vec_id,
         MAX({cosine_sql('q.q_emb', 's.embedding', _DIM)}) AS cos_sim
  FROM q JOIN sigs s
    ON s.band = q.band AND s.bsig = q.bsig AND s.vec_id <> q.q_id
  GROUP BY q.q_id, s.vec_id
),
ranked AS (
  SELECT q_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id) AS rk
  FROM cand
)
SELECT q_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= {_TOPK}
"""


def _banded_sigs(
    emb: DataFrame, n_bands: int, planes_per_band: int, salt: str = ""
) -> DataFrame:
    """(vec_id, embedding, band, bsig): banded LSH — independent hash
    tables (same trick as minhash banding). A pair is a candidate if it
    collides in ANY band: P = 1-(1-p^r)^b — the recall/selectivity
    knob, with bucket count 2^r per band bounding self-join fan-out.
    One explode of a tiny struct array; bucket key is (band, bsig)."""
    weights = _plane_weights(n_bands * planes_per_band, salt)
    band_structs = []
    for band in range(n_bands):
        bits = []
        for r in range(planes_per_band):
            w = F.array(*[F.lit(v) for v in weights[band * planes_per_band + r]])
            weighted = F.aggregate(
                F.zip_with(
                    F.col("embedding"), w, lambda x, wv: x.cast("double") * wv
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bits.append(F.when(weighted >= 0, F.lit(1 << r)).otherwise(F.lit(0)))
        bsig = bits[0]
        for b in bits[1:]:
            bsig = bsig + b
        band_structs.append(
            F.struct(F.lit(band).alias("band"), bsig.alias("bsig"))
        )
    return emb.select(
        "vec_id", "embedding", F.explode(F.array(*band_structs)).alias("b")
    ).select(
        "vec_id",
        "embedding",
        F.col("b.band").alias("band"),
        F.col("b.bsig").alias("bsig"),
    )


def _banded_sigs_arrow(
    emb: DataFrame,
    n_bands: int,
    planes_per_band: int,
    salt: str = "",
    extra_cols: tuple = (),
) -> DataFrame:
    """Arrow-batched twin of ``_banded_sigs``: all band signatures in
    ONE numpy matmul per batch (B×dim @ dim×planes), bits packed per
    band. Same (vec_id, embedding, band, bsig) output.

    Why a pandas UDF here when the rest of the engine avoids Python:
    n_bands×planes_per_band interpreted higher-order aggregates cost
    ~1 ms/row (measured at 32 planes) — a per-row constant that
    multiplies by corpus size at 100 TB. The matmul form is sub-µs/row
    after Arrow transfer; this is the one shape (dense linear algebra)
    where vectorized Python beats Catalyst expressions by orders of
    magnitude. Sign decisions are identical to the sequential JVM fold
    except when |projection| < ~1e-15 (reassociated summation);
    tests/test_similarity.py pins path agreement on the test corpus."""
    W = np.array(
        _plane_weights(n_bands * planes_per_band, salt), dtype=np.float64
    )
    shifts = 1 << np.arange(planes_per_band)

    @F.pandas_udf("array<int>")
    def band_sigs(e_: pd.Series) -> pd.Series:
        if not len(e_):
            return pd.Series([], dtype=object)
        M = np.vstack(e_.to_numpy()).astype(np.float64)
        bits = (M @ W.T >= 0).astype(np.int64)
        sigs = bits.reshape(len(M), n_bands, planes_per_band) @ shifts
        return pd.Series(list(sigs.astype(np.int32)))

    return emb.select(
        "vec_id",
        "embedding",
        *extra_cols,
        F.posexplode(band_sigs(F.col("embedding"))).alias("band", "bsig"),
    )


# --------------------------------------------------------------------------
# Signature-index artifact (build once, probe many)
# --------------------------------------------------------------------------
#
# A production ANN index is an OFFLINE ARTIFACT: the corpus-side
# signatures are computed once and written partitioned by bucket key;
# queries compute their own (tiny) signatures at probe time and join.
# At 100 TB this is the difference between re-running the signature
# kernel over the corpus per query batch and a partition-pruned scan of
# exactly the probed buckets (band/bsig are the artifact's partition
# columns, so dynamic partition pruning cuts the scan to the buckets
# the broadcast query side actually hits).

_ARTIFACT_ROOT = os.environ.get(
    "SPARK_GRAFT_ARTIFACT_DIR",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".artifacts",
    ),
)


def _index_dir(kind: str, sf_dir: str) -> str:
    """Artifact directory for (kind, source dir). Keyed on a digest of
    the absolute path — a separator-flattening scheme ("/" → "_") would
    collide distinct sources (/data/sf0_1 vs /data/sf0/1) onto one
    artifact; the basename prefix is kept purely for human
    debuggability."""
    import hashlib

    ap = os.path.abspath(sf_dir)
    digest = hashlib.md5(ap.encode()).hexdigest()[:12]
    base = os.path.basename(ap.rstrip(os.sep)) or "root"
    return os.path.join(_ARTIFACT_ROOT, kind, f"{base}-{digest}")


def _publish_artifact(tmp: str, out: str) -> None:
    """Atomically publish a fully-built artifact dir via SYMLINK swap:
    the staged ``tmp`` dir is renamed to a versioned sibling and
    ``out`` (a symlink) is atomically repointed with os.replace, so a
    reader opening ``out`` sees the old complete artifact or the new
    complete one at every instant — never a missing path, never a data
    directory whose meta.json describes different data. Writer-writer
    races (bench --force vs a pytest build sharing .artifacts) are
    serialized by an flock: directory-over-directory os.replace raises
    ENOTEMPTY for the loser, and last-completed-build-wins requires the
    swap sequence to be exclusive. The previous version's directory is
    removed after the swap (a reader mid-scan on the old version is the
    same already-accepted hazard as any cache eviction; open file
    handles keep their data on POSIX). The swap also holds the
    artifact's maintenance lock (re-entrant — a compaction publishing
    under its own lock passes through), so a force rebuild cannot
    republish between a concurrent compaction/fold's meta snapshot and
    its directory reads — the whole maintenance pass sees one
    version."""
    import contextlib
    import fcntl
    import shutil
    import uuid

    from streamlit_flink_demo_spark.operators.incremental import (
        maintenance_lock,
    )

    os.makedirs(os.path.dirname(out), exist_ok=True)
    with contextlib.ExitStack() as stack:
        stack.enter_context(maintenance_lock(out))
        lk = stack.enter_context(open(out + ".lock", "w"))
        fcntl.flock(lk, fcntl.LOCK_EX)
        try:
            versioned = f"{out}.v-{uuid.uuid4().hex[:12]}"
            os.rename(tmp, versioned)
            old_target = None
            if os.path.islink(out):
                old_target = os.path.realpath(out)
            elif os.path.isdir(out):
                # legacy real-dir artifact from before the symlink
                # scheme: move it aside (brief absence only during this
                # one-time migration, and only under the lock)
                old_target = f"{out}.old-{uuid.uuid4().hex[:12]}"
                os.rename(out, old_target)
            link_tmp = f"{out}.lnk-{uuid.uuid4().hex[:12]}"
            os.symlink(versioned, link_tmp)
            os.replace(link_tmp, out)  # atomic even over an old symlink
            if old_target and os.path.isdir(old_target):
                shutil.rmtree(old_target, ignore_errors=True)
            # sweep crash debris: .v-/.old- siblings that are not the
            # live target (a publish that died between stage and swap).
            # .tmp- dirs are NOT swept — a concurrent builder may be
            # mid-write to its staging dir without holding the lock.
            base = os.path.basename(out)
            live = os.path.realpath(out)
            for name in os.listdir(os.path.dirname(out)):
                p = os.path.join(os.path.dirname(out), name)
                if (
                    (
                        name.startswith(base + ".v-")
                        or name.startswith(base + ".old-")
                    )
                    and os.path.isdir(p)
                    and os.path.realpath(p) != live
                ):
                    shutil.rmtree(p, ignore_errors=True)
        finally:
            with contextlib.suppress(OSError):
                fcntl.flock(lk, fcntl.LOCK_UN)


def table_fingerprint(sf_dir: str, table: str) -> str:
    """Source identity for artifact staleness checks: (path, size,
    mtime_ns) of every file under the table's parquet root. Shared by
    every artifact family (ANN indexes fingerprint ``embeddings``; the
    suffix-array artifact in operators/suffix.py fingerprints
    ``documents``)."""
    root = table_path(sf_dir, table)
    parts = []
    if os.path.isdir(root):
        for base, _, files in sorted(os.walk(root)):
            for f in sorted(files):
                p = os.path.join(base, f)
                st = os.stat(p)
                parts.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(root):
        st = os.stat(root)
        parts.append(f"{root}:{st.st_size}:{st.st_mtime_ns}")
    return ";".join(parts)


def _embeddings_fingerprint(sf_dir: str) -> str:
    return table_fingerprint(sf_dir, "embeddings")


def _artifact_is_fresh(out: str, fp: str, params: dict | None = None) -> bool:
    """An artifact is reusable only if BOTH the source-data fingerprint
    and every build parameter recorded in meta.json (banding, planes,
    salt, cluster count — whatever the builder passes) match: a code
    change to a banding constant must invalidate the artifact, or
    probes run against buckets built under the old scheme and return
    silently wrong candidates."""
    meta = os.path.join(out, "meta.json")
    if not os.path.exists(meta):
        return False
    try:
        with open(meta) as fh:
            m = json.load(fh)
        if m.get("fingerprint") != fp:
            return False
        for k, v in (params or {}).items():
            if m.get(k) != v:
                return False
        return True
    except (OSError, ValueError):
        return False


def _write_meta(out: str, payload: dict) -> None:
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "meta.json"), "w") as fh:
        json.dump(payload, fh)


def _build_sig_index(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    n_bands: int,
    planes_per_band: int,
    salt: str = "",
    force: bool = False,
    partition_cols: tuple[str, ...] = ("band", "bsig"),
) -> str:
    """Materialize a banded-signature index for ``sf_dir`` as parquet
    partitioned by the bucket key — the 100 TB shape: one pass of the
    Arrow signature kernel over the corpus, one hash repartition on the
    bucket key so each bucket is a few well-sized files, then bucket-
    pruned probes forever after. ``partition_cols`` sizes the directory
    fan-out to the banding's bucket count: the coarse top-k banding
    (4×4 buckets) partitions by (band, bsig); the selective dup
    banding (4×256) partitions by band only and keeps bsig a sorted
    in-file column — a thousand tiny directories costs more in listing
    than pruning saves. Skips the build when an artifact with a
    matching source fingerprint already exists (fingerprint = size +
    mtime of the source parquet). Returns the artifact directory."""
    out = _index_dir(kind, sf_dir)
    fp = _embeddings_fingerprint(sf_dir)
    params = {
        "n_bands": n_bands,
        "planes_per_band": planes_per_band,
        "salt": salt,
        "partition_cols": list(partition_cols),
    }
    if not force and _artifact_is_fresh(out, fp, params):
        return out
    e = load_spread(spark, sf_dir, "embeddings")
    sigs = _banded_sigs_arrow(e, n_bands, planes_per_band, salt)
    sort_cols = [c for c in ("bsig", "vec_id") if c not in partition_cols]
    tmp = f"{out}.tmp-{os.getpid()}"
    (
        sigs.repartition(*partition_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(os.path.join(tmp, "data"))
    )
    _write_meta(tmp, {"fingerprint": fp, **params})
    _publish_artifact(tmp, out)
    return out


def build_lsh_index(spark: SparkSession, sf_dir: str, force: bool = False) -> str:
    """Top-k ANN signature artifact (coarse banding, recall-first)."""
    return _build_sig_index(
        spark, sf_dir, "lsh_topk", _N_BANDS, _PLANES_PER_BAND, force=force
    )


def build_dup_sig_index(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Near-dup pairing signature artifact (selective banding: 4×8 —
    256 buckets/band bound the self-join fan-out)."""
    return _build_sig_index(
        spark,
        sf_dir,
        "lsh_dup",
        _DUP_BANDS,
        _DUP_PLANES_PER_BAND,
        salt="dup:",
        force=force,
        partition_cols=("band",),
    )


def lsh_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top-k signature index as a DataFrame (vec_id, embedding,
    band, bsig), building the artifact first if absent/stale."""
    return read_parquet(spark, os.path.join(build_lsh_index(spark, sf_dir), "data"))


def dup_sig_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(
        spark, os.path.join(build_dup_sig_index(spark, sf_dir), "data")
    )


@register("ann_lsh_topk", oracle=_LSH_TOPK_ORACLE, tags=("similarity", "ann", "lsh"))
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact cosine re-rank. Recall vs the exact baseline is
    property-tested (tests/test_similarity.py). The md5-derived
    hyperplanes are deterministic, so the full pipeline (banding →
    bucket join → re-rank) IS SQL-expressible — the oracle replays it
    in DuckDB bit-for-bit.

    Scale shape: the corpus side probes the PREBUILT signature artifact
    (``build_lsh_index`` — parquet partitioned by band/bsig, built on
    miss, fingerprint-checked); the query side computes its own
    signatures over a scan-pruned _N_QUERIES-row read (pushdown pinned
    by tests/test_plans.py) and is broadcast, so a probe is a
    partition-prunable scan + broadcast join, never a corpus-wide
    kernel run."""
    e = load_table(spark, sf_dir, "embeddings")
    return lsh_probe_topk(e, lsh_index(spark, sf_dir))


def lsh_probe_topk(
    e: DataFrame, index_df: DataFrame, hamming1: bool = False
) -> DataFrame:
    """Shared LSH probe→score→rank block: query signatures broadcast
    against any (vec_id, embedding, band, bsig) index frame — the
    build-once artifact path (ann_lsh_topk) and the base+delta
    incremental path (operators/incremental.py) probe through ONE
    definition so tie-breaking can't fork between them.
    ``hamming1`` turns on multi-probe (Lv et al. 2007): each band also
    probes the buckets at Hamming distance 1 from the query's
    signature — with 2 planes per band that is 2 extra buckets, i.e.
    3× probe fan-out for a recall boost that would otherwise cost
    whole extra hash tables (index size, not probe size, is the
    expensive axis at 100 TB)."""
    q = _banded_sigs_arrow(
        e.filter(F.col("vec_id") < _N_QUERIES), _N_BANDS, _PLANES_PER_BAND
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("band").alias("q_band"),
        F.col("bsig").alias("q_bsig"),
    )
    if hamming1:
        probes = F.array(
            F.col("q_bsig"),
            *[
                F.col("q_bsig").bitwiseXOR(F.lit(1 << r))
                for r in range(_PLANES_PER_BAND)
            ],
        )
        q = q.withColumn("q_bsig", F.explode(probes))
    q = F.broadcast(q)
    cand = q.join(
        index_df,
        (F.col("band") == F.col("q_band"))
        & (F.col("bsig") == F.col("q_bsig"))
        & (F.col("vec_id") != F.col("q_id")),
    )
    # A pair colliding in several bands appears several times; score
    # each copy (narrow, ≤ _N_BANDS× work) and dedupe on ids with MAX —
    # cheaper at scale than shuffling embedding arrays through distinct.
    scored = (
        cand.select(
            "q_id",
            "vec_id",
            cosine(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
        )
        .groupBy("q_id", "vec_id")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOPK)
        .select("q_id", "vec_id", "cos_sim", "rk")
    )


_MP_IN = "(q.bsig, " + ", ".join(
    f"xor(q.bsig, {1 << r})" for r in range(_PLANES_PER_BAND)
) + ")"

_LSH_MULTIPROBE_ORACLE = f"""
WITH sigs AS (
{_sigs_sql(_N_BANDS, _PLANES_PER_BAND)}
),
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb, band, bsig
  FROM sigs WHERE vec_id < {_N_QUERIES}
),
cand AS (
  SELECT q.q_id, s.vec_id,
         MAX({cosine_sql('q.q_emb', 's.embedding', _DIM)}) AS cos_sim
  FROM q JOIN sigs s
    ON s.band = q.band AND s.bsig IN {_MP_IN} AND s.vec_id <> q.q_id
  GROUP BY q.q_id, s.vec_id
),
ranked AS (
  SELECT q_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id) AS rk
  FROM cand
)
SELECT q_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= {_TOPK}
"""


@register(
    "ann_lsh_multiprobe_topk",
    oracle=_LSH_MULTIPROBE_ORACLE,
    tags=("similarity", "ann", "lsh"),
    expose=False,
)
def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al. 2007): each band probes the
    query's bucket AND both Hamming-1 neighbor buckets (3 of this
    banding's 4 buckets), against the SAME prebuilt signature artifact
    as ann_lsh_topk — recall rises without adding hash tables (probe
    fan-out is cheap; index bytes are the expensive axis at 100 TB).
    Recall dominance over the single-probe tier is pytest-pinned
    (tests/test_similarity.py); the oracle replays banding, the
    3-bucket probe, and the re-rank bit-for-bit."""
    e = load_table(spark, sf_dir, "embeddings")
    return lsh_probe_topk(e, lsh_index(spark, sf_dir), hamming1=True)


# Near-dup threshold. Real corpora use ~0.95+; the synthetic test
# embeddings are i.i.d. random (max pairwise cosine ≈ 0.51 at sf0.01),
# so the registered query runs at the data's top-percentile so the
# operator demonstrably produces verified pairs end-to-end.
_NEAR_DUP_COS = 0.45

_EMB_DUP_ORACLE = f"""
WITH sigs AS (
{_sigs_sql(_DUP_BANDS, _DUP_PLANES_PER_BAND, salt="dup:")}
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         MAX({cosine_sql('a.embedding', 'b.embedding', _DIM)}) AS cos_sim
  FROM sigs a JOIN sigs b
    ON a.band = b.band AND a.bsig = b.bsig AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
)
SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= {_NEAR_DUP_COS}
"""


@register(
    "dedup_embedding_cosine",
    oracle=_EMB_DUP_ORACLE,
    tags=("dedup", "similarity"),
    expose=False,  # exposed via dedup_family_suite
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: banded LSH buckets → exact cosine
    threshold verification inside buckets only (sub-quadratic candidate
    generation). The md5-derived bucketing is deterministic, so the
    oracle replays the identical bucket join + threshold in DuckDB;
    brute-force recall is pytest-verified (tests/test_similarity.py).

    The self-join runs over the PREBUILT signature artifact
    (``build_dup_sig_index``, parquet partitioned by band/bsig): both
    join sides read co-partitioned files instead of re-running the
    signature kernel twice, and at 100 TB the within-bucket self-join
    can proceed partition-by-partition."""
    bsigs = dup_sig_index(spark, sf_dir)
    # Candidate generation is NARROW: the artifact self-join carries
    # only (vec_id, band, bsig) — column pruning keeps embedding bytes
    # out of the bucket join entirely — and duplicates (a pair
    # colliding in several bands) collapse via distinct BEFORE any
    # scoring. Embeddings re-join once per unique pair, and the pair
    # cosine runs as the Arrow per-dimension kernel (bit-identical
    # fold order to the HOF form and the oracle). Measured at 10×
    # corpus replication: 109 s (HOF cosine per pair-copy, embeddings
    # through the self-join) → ~3 s.
    ids = bsigs.select("vec_id", "band", "bsig")
    a = ids.alias("a")
    b = ids.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ea = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a")
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b")
    )
    # cos_sim is a pure function of the pair, so scoring the deduped
    # pair once equals the old per-copy MAX exactly.
    return (
        pairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            cosine_pairs_arrow(
                F.col("emb_a"), F.col("emb_b")
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _NEAR_DUP_COS)
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantizer → cluster-pruned search
# --------------------------------------------------------------------------

_IVF_CLUSTERS = 16
_IVF_NPROBE = 4


def _ivf_assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cluster): nearest centroid by cosine. The centroid set
    is a broadcast of k rows, so assignment is a narrow map over the
    vectors — no shuffle. Argmax via struct-max (no sort)."""
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        F.struct(
            cosine(F.col("embedding"), F.col("c_emb")).alias("cs"),
            F.col("c_id"),
        ).alias("s"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.max("s").alias("m"))
        .select("vec_id", F.col("m.c_id").alias("cluster"))
    )


def _ivf_assign_udf(cents_np):
    """The Arrow assignment kernel as a reusable pandas UDF (shared by
    the IVF and IVF-PQ artifact builds): argmax of row-normalized
    embeddings against the normalized centroid matrix (equivalent to
    argmax cosine). The centroid matrix is a k×dim numpy constant
    shipped in the UDF closure — the same offline-artifact shape a
    production IVF index broadcasts. Same rationale as
    _banded_sigs_arrow: k interpreted cosines per row is a per-row
    constant the matmul removes. Ties (exactly equal cosines,
    measure-zero for float data) resolve to the lowest cluster id."""
    Cn = cents_np / _safe_norms(cents_np)

    zero_c = np.linalg.norm(cents_np, axis=1) == 0

    @F.pandas_udf("int")
    def assign(e_: pd.Series) -> pd.Series:
        if not len(e_):
            return pd.Series([], dtype="int32")
        M = np.vstack(e_.to_numpy()).astype(np.float64)
        n = np.linalg.norm(M, axis=1, keepdims=True)
        Mn = M / np.where(n == 0, 1.0, n)
        scores = Mn @ Cn.T
        if zero_c.any():
            scores[:, zero_c] = -np.inf  # see _safe_norms
        return pd.Series(np.argmax(scores, axis=1).astype("int32"))

    return assign


def _ivf_assign_arrow(
    vecs: DataFrame, cents_np, with_embedding: bool = False
) -> DataFrame:
    """(vec_id[, embedding], cluster) via one Arrow batch matmul."""
    assign = _ivf_assign_udf(cents_np)
    cols = ["vec_id", "embedding"] if with_embedding else ["vec_id"]
    return vecs.select(*cols, assign(F.col("embedding")).alias("cluster"))


# Training-sample bound: the coarse quantizer is trained on at most
# _IVF_TRAIN_SAMPLE × k vectors. A coarse quantizer only needs enough
# points to place k centroids — training it on the full corpus is the
# classic IVF anti-pattern at scale (a full-corpus shuffle to build a
# k-row artifact). The vec_id predicate is pushdown-able into the
# parquet scan.
_IVF_TRAIN_SAMPLE = 64


def _safe_norms(M: "np.ndarray") -> "np.ndarray":
    """Row norms with zeros mapped to 1: a zero vector then normalizes
    to zeros instead of NaN-poisoning the argmax. Zero DATA row: all
    cosines 0 in Spark / all NULL in the oracle — both resolve to the
    lowest eligible c_id. Zero CENTROID column: the assignment kernels
    additionally mask it to -inf, matching the oracle where x/0 → NULL
    sorts LAST under ORDER BY cosine DESC (a 0.0 would wrongly beat
    negative cosines to real centroids)."""
    n = np.linalg.norm(M, axis=1, keepdims=True)
    return np.where(n == 0, 1.0, n)


def _mask_zero_centroids(scores: "np.ndarray", cents_np: "np.ndarray") -> "np.ndarray":
    """See _safe_norms: zero-norm centroids must sort LAST, not as 0."""
    zero = np.linalg.norm(cents_np, axis=1) == 0
    if zero.any():
        scores[:, zero] = -np.inf
    return scores


def _ivf_centroids_np(e: DataFrame, k: int) -> "np.ndarray":
    """Train the coarse quantizer on a bounded sample: deterministic
    seeds (the first k vectors by id) + one Lloyd refinement (cosine
    assign → per-dimension mean), all in numpy on the driver over
    ≤ _IVF_TRAIN_SAMPLE×k collected vectors. The collect is k-bounded
    (64k rows × dim doubles at most) regardless of corpus size — the
    offline-artifact shape a production IVF index trains once and
    broadcasts. Empty clusters keep their seed."""
    rows = (
        e.filter(F.col("vec_id") < k * _IVF_TRAIN_SAMPLE)
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    if not rows:
        raise ValueError("no embeddings to train the IVF quantizer on")
    M = np.array([r.embedding for r in rows], dtype=np.float64)
    # degrade like the SQL oracle on a tiny corpus: fewer than k
    # vectors yields fewer seeds/centroids, not an IndexError
    seeds = M[:k]
    Mn = M / _safe_norms(M)
    Sn = seeds / _safe_norms(seeds)
    assign = np.argmax(_mask_zero_centroids(Mn @ Sn.T, seeds), axis=1)
    cents = np.empty_like(seeds)
    for c in range(len(seeds)):
        members = M[assign == c]
        cents[c] = members.mean(axis=0) if len(members) else seeds[c]
    return cents


def _ivf_centroids(e: DataFrame, k: int) -> DataFrame:
    """DataFrame view (c_id, c_emb) of the trained quantizer — k rows,
    used for broadcast probing and the JVM/Arrow assignment parity
    tests. Training itself is sample-bounded driver-side numpy
    (``_ivf_centroids_np``)."""
    return _cents_df(e.sparkSession, _ivf_centroids_np(e, k))


def _cents_df(spark: SparkSession, cents_np: "np.ndarray") -> DataFrame:
    """k-row (c_id, c_emb double[]) frame of the trained quantizer —
    the broadcast-sized state every probe path ships."""
    return spark.createDataFrame(
        [
            (c, [float(v) for v in cents_np[c]])
            for c in range(len(cents_np))
        ],
        "c_id int, c_emb array<double>",
    )


def _ivf_probe(
    q: DataFrame, cents: DataFrame, inv: DataFrame, nprobe: int, topk: int
) -> DataFrame:
    """Shared probe→score→rank block for BOTH the inline pipeline
    (ivf_topk) and the artifact path (ann_ivf_topk): nprobe nearest
    centroids per query (broadcast k-row cross join + rank window),
    score only the probed clusters' inverted-list rows, exact re-rank.
    One definition keeps tie-breaking and the self-match exclusion from
    forking between the two paths (their equality is pytest-pinned)."""
    from pyspark.sql import Window as W

    wp = W.partitionBy("q_id").orderBy(F.col("c_cs").desc(), F.col("c_id"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "q_id",
            "q_emb",
            "c_id",
            cosine(F.col("q_emb"), F.col("c_emb")).alias("c_cs"),
        )
        .withColumn("prk", F.row_number().over(wp))
        .filter(F.col("prk") <= nprobe)
        .select("q_id", "q_emb", "c_id")
    )
    scored = F.broadcast(probes).join(
        inv,
        (F.col("c_id") == F.col("cluster")) & (F.col("vec_id") != F.col("q_id")),
    ).select(
        "q_id",
        "vec_id",
        cosine(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= topk)
        .select("q_id", "vec_id", "cos_sim", "rk")
    )


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    n_clusters: int = _IVF_CLUSTERS,
    nprobe: int = _IVF_NPROBE,
    n_queries: int = _N_QUERIES,
    topk: int = _TOPK,
) -> DataFrame:
    """IVF search: queries score only the vectors whose cluster is
    among the query's ``nprobe`` nearest centroids. With nprobe =
    n_clusters the search is exhaustive and exactly reproduces the
    brute-force top-k (property-tested); smaller nprobe trades recall
    for a ~nprobe/n_clusters fraction of the scoring work."""
    e = load_spread(spark, sf_dir, "embeddings")
    # Quantizer: trained once on a bounded sample (driver-side numpy,
    # see _ivf_centroids_np) and shipped two ways — as the assignment
    # UDF's closure constant and as a k-row broadcast for probing.
    cents_np = _ivf_centroids_np(e, n_clusters)
    cents = _cents_df(spark, cents_np)
    # Inverted list: cluster id computed inline as an extra column —
    # one narrow pass, no assignment self-join, no shuffle.
    inv = _ivf_assign_arrow(e, cents_np, with_embedding=True)
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return _ivf_probe(q, cents, inv, nprobe, topk)


def _ivf_oracle_sql(live_where: str | None = None) -> str:
    """DuckDB replay of the ENTIRE deterministic IVF pipeline —
    training (first-k seeds over the bounded sample, one Lloyd step of
    cosine-assign → per-dim mean), corpus assignment, nprobe centroid
    pruning, exact re-rank. Same shape as the LSH oracle: every step is
    deterministic, so the approximate index is SQL-checkable end to
    end. Float caveat mirrors _sigs_sql: numpy's pairwise mean /
    BLAS-summed argmax vs DuckDB's sequential AVG/cosine differ at
    ~1e-16, which flips a selection only on near-ties (measure-zero
    for float embeddings; swept clean at sf0.001/0.01/0.1)."""
    cos = lambda a, b: cosine_sql(a, b, _DIM)
    train_n = _IVF_CLUSTERS * _IVF_TRAIN_SAMPLE
    # ``live_where`` restricts the ASSIGNED corpus and the query set
    # (the tombstone-deletion replay: training/centroids stay frozen
    # on the FULL corpus — deletion never retrains).
    live = (
        f"(SELECT * FROM embeddings WHERE {live_where})"
        if live_where
        else "embeddings"
    )
    q_and = f" AND ({live_where})" if live_where else ""
    return f"""
WITH train AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {train_n}
),
seeds AS (
  SELECT vec_id AS c_id, embedding AS s_emb FROM train WHERE vec_id < {_IVF_CLUSTERS}
),
tassign AS (
  SELECT vec_id, c_id, embedding FROM (
    SELECT t.vec_id, s.c_id, t.embedding,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY {cos('t.embedding', 's.s_emb')} DESC,
                                       s.c_id) AS rk
    FROM train t CROSS JOIN seeds s
  ) WHERE rk = 1
),
cmeans AS (
  -- empty clusters KEEP THEIR SEED (matching _ivf_centroids_np): an
  -- inner aggregate alone would silently drop a cluster no training
  -- vector chose (duplicate embeddings among the first k seeds do
  -- this), leaving the oracle with k-1 centroids and wholesale
  -- assignment divergence.
  SELECT s.c_id,
         coalesce(m.c_emb, list_transform(s.s_emb, x -> x::DOUBLE))
           AS c_emb
  FROM seeds s LEFT JOIN (
    SELECT c_id, list(avg_v ORDER BY dim) AS c_emb
    FROM (
      SELECT a.c_id, d.dim, AVG(a.embedding[d.dim+1]::DOUBLE) AS avg_v
      FROM tassign a CROSS JOIN range({_DIM}) d(dim)
      GROUP BY a.c_id, d.dim
    )
    GROUP BY c_id
  ) m USING (c_id)
),
inv AS (
  SELECT vec_id, c_id AS cluster, embedding FROM (
    SELECT e.vec_id, c.c_id, e.embedding,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos('e.embedding', 'c.c_emb')} DESC,
                                       c.c_id) AS rk
    FROM {live} e CROSS JOIN cmeans c
  ) WHERE rk = 1
),
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id < {_N_QUERIES}{q_and}
),
probes AS (
  SELECT q_id, q_emb, c_id FROM (
    SELECT q.q_id, q.q_emb, c.c_id,
           ROW_NUMBER() OVER (PARTITION BY q.q_id
                              ORDER BY {cos('q.q_emb', 'c.c_emb')} DESC,
                                       c.c_id) AS prk
    FROM q CROSS JOIN cmeans c
  ) WHERE prk <= {_IVF_NPROBE}
),
scored AS (
  SELECT p.q_id, i.vec_id, {cos('p.q_emb', 'i.embedding')} AS cos_sim
  FROM probes p JOIN inv i ON i.cluster = p.c_id AND i.vec_id <> p.q_id
),
ranked AS (
  SELECT q_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored
)
SELECT q_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= {_TOPK}
"""


def build_ivf_index(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Materialize the IVF index: train the coarse quantizer on the
    bounded sample (driver numpy, deterministic), assign every vector
    with the Arrow matmul kernel, and write the inverted list as
    parquet PARTITIONED BY cluster id — probing then reads only the
    nprobe probed partitions (partition pruning does the candidate cut
    before any scoring runs). Centroids live in the artifact metadata
    (k×dim doubles, exact JSON round-trip) — the broadcast-sized state
    a production IVF deployment ships to queries."""
    out = _index_dir("ivf", sf_dir)
    fp = _embeddings_fingerprint(sf_dir)
    if not force and _artifact_is_fresh(
        out, fp, {"n_clusters": _IVF_CLUSTERS, "train_sample": _IVF_TRAIN_SAMPLE}
    ):
        return out
    e = load_spread(spark, sf_dir, "embeddings")
    cents_np = _ivf_centroids_np(e, _IVF_CLUSTERS)
    inv = _ivf_assign_arrow(e, cents_np, with_embedding=True)
    tmp = f"{out}.tmp-{os.getpid()}"
    (
        inv.repartition("cluster")
        .sortWithinPartitions("vec_id")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(os.path.join(tmp, "data"))
    )
    _write_meta(
        tmp,
        {
            "fingerprint": fp,
            "n_clusters": _IVF_CLUSTERS,
            # every build constant that shapes the quantizer: a code
            # change to the training bound must invalidate the
            # artifact, like the banding constants in the sig index
            "train_sample": _IVF_TRAIN_SAMPLE,
            "centroids": [[float(v) for v in row] for row in cents_np],
        },
    )
    _publish_artifact(tmp, out)
    return out


@register("ann_ivf_topk", oracle=_ivf_oracle_sql(), tags=("similarity", "ann", "ivf"))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k (the 100 TB scale path next to
    LSH): probes the PREBUILT inverted-list artifact
    (``build_ivf_index`` — parquet partitioned by cluster id, built on
    miss), so each query touches only its nprobe probed clusters'
    partitions. The quantizer is deterministic (seeded from the first
    k vectors of a bounded sample), so the full pipeline — training,
    assignment, probing, re-rank — is replayed in the SQL oracle
    (hash-checked); exhaustive-probe exactness and recall floors are
    additionally pytest-verified (tests/test_similarity.py)."""
    path = build_ivf_index(spark, sf_dir)
    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    cents_np = np.array(meta["centroids"], dtype=np.float64)
    inv = read_parquet(spark, os.path.join(path, "data"))
    cents = _cents_df(spark, cents_np)
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return _ivf_probe(q, cents, inv, _IVF_NPROBE, _TOPK)


# --------------------------------------------------------------------------
# Distributed k-means clustering of the embedding corpus
# --------------------------------------------------------------------------
# The clustering complement to IVF: IVF trains its coarse quantizer on
# a bounded SAMPLE (it only needs k well-placed centroids); corpus
# clustering — topic grouping, dedup-bucket seeding, mixture analysis
# for a training-data pipeline — needs Lloyd iterations over the FULL
# corpus. Per iteration: one broadcast-free Arrow argmax pass
# (centroids ship as a k×dim closure constant, no shuffle) and ONE
# shuffle of 65 combinable aggregates (count + 64 per-dimension
# scaled-integer sums — map-side partial aggregation reduces the
# exchange to k rows per input partition). Elements are quantized to
# round(x * 2^30) BIGINT before summing: integer sums are exact and
# order-independent, so the distributed per-dimension means are
# deterministic under any partitioning (a plain double sum would give
# a different centroid per run), and — unlike wide DECIMAL sums, which
# fall off Spark's long-backed fast path and ran 10×+ slower — they
# stay in whole-stage codegen. Both engines' round() is half-away-
# from-zero, so the quantization is bit-identical in the SQL replay.
# Overflow bound: |x|≤10 quantizes to ≤1.1e10, so a single cluster
# supports ~8e8 members before a BIGINT sum wraps — repartition the
# corpus into per-shard clusterers long before that. Driver state is
# k×(dim+1) values per iteration, bounded regardless of corpus size.

_KM_K = 8
_KM_ITERS = 2
_KM_SCALE = float(1 << 30)


def _kmeans_centroids_np(e: DataFrame) -> "np.ndarray":
    """_KM_ITERS Lloyd iterations over the full corpus; seeds are the
    first _KM_K vectors by vec_id (the IVF seeding convention). Empty
    clusters keep their previous centroid, mirroring the oracle's
    COALESCE(LEFT JOIN) and _ivf_centroids_np; the scaled-integer
    determinism story is in the section comment above."""
    seed_rows = (
        e.filter(F.col("vec_id") < _KM_K).select("vec_id", "embedding").collect()
    )
    seed_rows.sort(key=lambda r: r["vec_id"])
    if not seed_rows:
        raise ValueError("no embeddings to seed k-means from")
    cents = np.array([r.embedding for r in seed_rows], dtype=np.float64)
    for _ in range(_KM_ITERS):
        a = _ivf_assign_arrow(e, cents, with_embedding=True)
        sums = (
            a.groupBy("cluster")
            .agg(
                F.count("*").alias("n"),
                *[
                    F.sum(
                        F.round(
                            F.col("embedding")[d].cast("double") * _KM_SCALE
                        ).cast("bigint")
                    ).alias(f"s{d}")
                    for d in range(_DIM)
                ],
            )
            .collect()
        )
        new = cents.copy()
        for r in sums:
            n = r["n"]
            new[r["cluster"]] = [
                (float(r[f"s{d}"]) / n) / _KM_SCALE for d in range(_DIM)
            ]
        cents = new
    return cents


def build_kmeans_model(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Materialize the trained k-means centroids as a fingerprinted
    build-once artifact (VERDICT r8 item 3 — the LSH/IVF/PQ pattern):
    the _KM_ITERS full-corpus Lloyd iterations are an offline TRAINING
    job, so they belong in the bench's ``artifacts`` ledger, not inside
    (or silently outside) a query's timed window. The artifact is
    metadata-only (k×(dim+1) doubles in meta.json — exact JSON float
    round-trip, the IVF precedent); probe-side queries load it and run
    zero training jobs. Invalidation: source-data fingerprint + every
    training constant (k, iters, quantization scale)."""
    out = _index_dir("kmeans", sf_dir)
    fp = _embeddings_fingerprint(sf_dir)
    params = {"k": _KM_K, "iters": _KM_ITERS, "scale": _KM_SCALE}
    if not force and _artifact_is_fresh(out, fp, params):
        return out
    e = load_spread(spark, sf_dir, "embeddings")
    cents = _kmeans_centroids_np(e)
    tmp = f"{out}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    _write_meta(
        tmp,
        {
            "fingerprint": fp,
            **params,
            "centroids": [[float(v) for v in row] for row in cents],
        },
    )
    _publish_artifact(tmp, out)
    return out


def _kmeans_centroids_cached(spark: SparkSession, sf_dir: str) -> "np.ndarray":
    """Trained centroids via the build-once artifact (building on
    miss/staleness). The JSON floats round-trip exactly, so a cached
    load is bit-identical to a fresh _kmeans_centroids_np run — pinned
    by tests/test_semdedup.py."""
    path = build_kmeans_model(spark, sf_dir)
    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    return np.array(meta["centroids"], dtype=np.float64)


def _kmeans_ctes() -> tuple[list[str], str]:
    """Shared CTE chain replaying the distributed k-means pipeline:
    seeds → (assign → decimal-exact per-dim mean) × _KM_ITERS, plus a
    final full-corpus assignment ``af (vec_id, c_id, embedding)``.
    Returns (cte_list, name_of_final_centroid_cte) so both the k-means
    summary oracle and the SemDeDup oracle extend ONE definition of the
    training replay (their assignment/tie-break semantics cannot
    fork)."""
    cos = lambda a, b: cosine_sql(a, b, _DIM)  # noqa: E731
    steps = [
        f"""seeds AS (
  -- POSITIONAL ids (0..len-1 by vec_id order), matching the Spark
  -- side's sorted-collect array positions: with sparse vec_ids the
  -- raw vec_id would diverge from the position label Spark emits
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c_id,
         list_transform(embedding, x -> x::DOUBLE) AS c_emb
  FROM embeddings WHERE vec_id < {_KM_K}
)"""
    ]
    prev = "seeds"
    for t in range(_KM_ITERS):
        steps.append(
            f"""a{t} AS (
  SELECT vec_id, c_id, embedding FROM (
    SELECT e.vec_id, c.c_id, e.embedding,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos('e.embedding', 'c.c_emb')} DESC,
                                       c.c_id) AS rk
    FROM embeddings e CROSS JOIN {prev} c
  ) WHERE rk = 1
)"""
        )
        steps.append(
            f"""c{t} AS (
  SELECT p.c_id, coalesce(m.c_emb, p.c_emb) AS c_emb
  FROM {prev} p LEFT JOIN (
    SELECT c_id, list(mv ORDER BY dim) AS c_emb
    FROM (
      SELECT a.c_id, d.dim,
             (CAST(SUM(CAST(round(a.embedding[d.dim+1]::DOUBLE
                               * 1073741824.0) AS BIGINT))
                   AS DOUBLE) / COUNT(*)) / 1073741824.0 AS mv
      FROM a{t} a CROSS JOIN range({_DIM}) d(dim)
      GROUP BY a.c_id, d.dim
    ) GROUP BY c_id
  ) m USING (c_id)
)"""
        )
        prev = f"c{t}"
    steps.append(
        f"""af AS (
  SELECT vec_id, c_id, embedding FROM (
    SELECT e.vec_id, c.c_id, e.embedding,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos('e.embedding', 'c.c_emb')} DESC,
                                       c.c_id) AS rk
    FROM embeddings e CROSS JOIN {prev} c
  ) WHERE rk = 1
)"""
    )
    return steps, prev


def _kmeans_oracle_sql() -> str:
    """DuckDB replay of the full distributed pipeline: seeds → (assign
    → decimal-exact per-dim mean) × _KM_ITERS → final assignment →
    integer-only cluster summary. The decimal-sum replay keeps the two
    engines' centroids equal to the last unit in nearly every
    dimension; residual float divergence (numpy matmul vs the SQL
    fold) can flip an assignment only on a near-exact centroid tie —
    measure-zero for float embeddings, and the OUTPUT columns are all
    integers, so any surviving row is value-exact (same shape of
    argument as _ivf_oracle_sql; swept at sf0.001/0.01/0.1)."""
    steps, _ = _kmeans_ctes()
    return (
        "WITH "
        + ",\n".join(steps)
        + """
SELECT CAST(c_id AS BIGINT) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id,
       CAST(MIN(vec_id) AS BIGINT) AS exemplar
FROM af GROUP BY c_id
"""
    )


@register(
    "docs_cluster_kmeans",
    oracle=_kmeans_oracle_sql(),
    tags=("cluster", "kmeans", "embedding"),
    expose=False,
)
def docs_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus k-means document clustering (k=8, 2 Lloyd
    iterations, deterministic first-k seeding): the topic-grouping /
    mixture-analysis operator of a training-data pipeline, as the
    batch-iterative complement of the IVF coarse quantizer (which
    trains on a bounded sample). Scans are spread (the Arrow matmul +
    64-column extraction kernel dwarfs the repartition shuffle, the
    text_fingerprint argument). The summary row set is integer-only
    (members, vec_id checksum, exemplar) so the oracle comparison is
    exact; driver-surfaced through the 'kmeans' branch of
    group_agg_suite.

    Training runs through the build-once kmeans artifact
    (build_kmeans_model): the query itself is pure probe work —
    assignment + one 3-agg shuffle — so its timed window and the
    bench's artifacts ledger account training the same way DuckDB's
    timed CTE replay does (VERDICT r8 item 3)."""
    e = load_spread(spark, sf_dir, "embeddings")
    cents = _kmeans_centroids_cached(spark, sf_dir)
    a = _ivf_assign_arrow(e, cents)
    return a.groupBy("cluster").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.sum("vec_id").cast("bigint").alias("sum_vec_id"),
        F.min("vec_id").cast("bigint").alias("exemplar"),
    ).select(
        F.col("cluster").cast("bigint").alias("cluster"),
        "n_members",
        "sum_vec_id",
        "exemplar",
    )


# --------------------------------------------------------------------------
# SemDeDup: semantic deduplication via cluster-then-prune
# --------------------------------------------------------------------------
# The cluster-based complement of the LSH near-dup path
# (dedup_embedding_cosine): k-means partitions the embedding space,
# and near-duplicates are searched only WITHIN a cluster — the
# published SemDeDup recipe (Abbas et al. 2023, "SemDeDup: Data-
# efficient learning at web-scale through semantic deduplication").
# The quadratic intra-cluster pair matrix is replaced by a
# deterministic 1-D windowed scan: members are ranked by cosine
# similarity to their centroid (ties → vec_id) and each member is
# compared to its next _SEM_W neighbors in that order. Near-identical
# vectors have near-identical centroid similarity, so true duplicates
# land adjacent in the ranking; candidate count is n·W (linear),
# not n²/k — the property that survives a 100 TB corpus where even
# per-cluster n² is unpayable. Pairs above _SEM_TAU drop the
# less-central member (higher rank), keeping the exemplar closest to
# the cluster centroid — SemDeDup's keep-most-representative rule.
#
# Scale shape: ONE cluster-partitioned shuffle feeds one Window pass
# (rank + W leads share the window spec); the n·W candidate explode
# is pipelined post-shuffle (never crosses the wire) and collapses
# map-side into the distinct; the summary is two k-row aggregates.
# Driver state: the k×dim centroid matrix only.

_SEM_W = 16
# Tuned to the synthetic corpus like _NEAR_DUP_COS: neighbor-window
# pair cosines top out near 0.49 here (p97 ≈ 0.28), so 0.30 exercises
# the prune on a few percent of candidates at every SF; a production
# embedding corpus would run ≥0.9.
_SEM_TAU = 0.30


def _semdedup_oracle_sql() -> str:
    """Extends the shared k-means replay (_kmeans_ctes) with the
    windowed prune: rank by centroid-cosine, neighbor pairs within
    _SEM_W ranks, drop the higher-ranked member of any pair with
    cosine >= _SEM_TAU. All output columns are integers (counts and
    vec_id checksums), so the comparison is exact under the same
    measure-zero tie argument as _kmeans_oracle_sql."""
    cos = lambda a, b: cosine_sql(a, b, _DIM)  # noqa: E731
    steps, cents = _kmeans_ctes()
    steps.append(
        f"""rkd AS (
  SELECT vec_id, c_id, embedding,
         ROW_NUMBER() OVER (PARTITION BY c_id
                            ORDER BY {cos('a.embedding', 'c.c_emb')} DESC,
                                     vec_id) AS rk
  FROM af a JOIN {cents} c USING (c_id)
)"""
    )
    steps.append(
        f"""drops AS (
  SELECT a.c_id, b.vec_id AS b_id
  FROM rkd a JOIN rkd b
    ON a.c_id = b.c_id AND b.rk > a.rk AND b.rk <= a.rk + {_SEM_W}
  WHERE {cos('a.embedding', 'b.embedding')} >= {_SEM_TAU}
  GROUP BY a.c_id, b.vec_id
)"""
    )
    steps.append(
        """mem AS (
  SELECT c_id, COUNT(*) AS n_members, SUM(vec_id) AS sum_vec_id
  FROM rkd GROUP BY c_id
)"""
    )
    steps.append(
        """dst AS (
  SELECT c_id, COUNT(*) AS n_dropped, SUM(b_id) AS dropped_sum
  FROM drops GROUP BY c_id
)"""
    )
    return (
        "WITH "
        + ",\n".join(steps)
        + """
SELECT CAST(m.c_id AS BIGINT) AS cluster,
       CAST(m.n_members AS BIGINT) AS n_members,
       CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped,
       CAST(COALESCE(d.dropped_sum, 0) AS BIGINT) AS dropped_checksum,
       CAST(m.sum_vec_id - COALESCE(d.dropped_sum, 0) AS BIGINT)
         AS kept_checksum
FROM mem m LEFT JOIN dst d USING (c_id)
"""
    )


@register(
    "docs_semdedup",
    oracle=_semdedup_oracle_sql(),
    tags=("dedup", "semantic", "embedding", "cluster"),
    expose=False,
)
def docs_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup): k-means cluster the embedding corpus
    (shared trainer with docs_cluster_kmeans — deterministic first-k
    seeding, scaled-integer means), rank members by centroid cosine,
    prune near-duplicate neighbors within a _SEM_W-rank window at
    cosine >= _SEM_TAU, keeping the most-central member. Per-cluster
    integer summary (members / dropped / id checksums) so the full
    train→assign→rank→prune pipeline is value-exact against the SQL
    replay. Driver-surfaced through the 'semdedup' branch of
    group_agg_suite. Shares the build-once kmeans artifact with
    docs_cluster_kmeans (build_kmeans_model), so no training job runs
    inside the query."""
    e = load_spread(spark, sf_dir, "embeddings")
    cents_np = _kmeans_centroids_cached(spark, sf_dir)
    a = _ivf_assign_arrow(e, cents_np, with_embedding=True)

    # One applyInPandas per cluster — the published SemDeDup execution
    # shape (each cluster pruned independently on one worker). The
    # first attempt expressed the W-neighbor scan as a 16-lead Window
    # + explode: it shipped every embedding 16× through the window
    # buffer (measured ~18 s at sf0.1 vs <1 s here). The kernel keeps
    # all cosine arithmetic in the oracle's fold order: dots
    # accumulate dimension-by-dimension left-to-right (the
    # cosine_pairs_arrow pattern), so cs/cc are bit-identical to
    # cosine_sql. Memory bound: ONE CLUSTER per worker (n/k rows ×
    # dim) — the SemDeDup contract; k scales with the corpus so the
    # bound holds at 100 TB.
    C = cents_np.astype(np.float64)

    def prune(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["vec_id"].to_numpy().astype(np.int64)
        cl = int(pdf["cluster"].iloc[0])
        E = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        n, dim = E.shape
        c = C[cl]
        d_ec = np.zeros(n)
        d_ee = np.zeros(n)
        c_cc = 0.0
        for dd in range(dim):
            ed = E[:, dd]
            d_ec = d_ec + ed * c[dd]
            d_ee = d_ee + ed * ed
            c_cc = c_cc + c[dd] * c[dd]
        ne = np.sqrt(d_ee)
        cc = d_ec / (ne * np.sqrt(c_cc))
        order = np.lexsort((ids, -cc))  # (cc DESC, vec_id ASC)
        E = E[order]
        ids = ids[order]
        ne = ne[order]
        dropped = np.zeros(n, dtype=bool)
        for off in range(1, min(_SEM_W, n - 1) + 1):
            d_ab = np.zeros(n - off)
            for dd in range(dim):
                d_ab = d_ab + E[:-off, dd] * E[off:, dd]
            cs = d_ab / (ne[:-off] * ne[off:])
            dropped[off:] |= cs >= _SEM_TAU
        dsum = int(ids[dropped].sum()) if dropped.any() else 0
        return pd.DataFrame(
            {
                "cluster": [cl],
                "n_members": [n],
                "n_dropped": [int(dropped.sum())],
                "dropped_checksum": [dsum],
                "kept_checksum": [int(ids.sum()) - dsum],
            }
        )

    return a.groupBy("cluster").applyInPandas(
        prune,
        "cluster bigint, n_members bigint, n_dropped bigint, "
        "dropped_checksum bigint, kept_checksum bigint",
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) ANN: subspace codebooks -> ADC scan -> re-rank
# --------------------------------------------------------------------------
# The memory-bound scale path next to IVF's compute-pruning path: each
# vector is compressed to _PQ_M one-byte codes (64 float dims -> 8
# bytes), the asymmetric-distance (ADC) scan touches only those codes
# plus a per-query lookup table, and exact cosine re-ranks the small
# candidate set. Deterministic end to end (first-k seeds, one Lloyd
# step per subspace, 1e-9-rounded codebooks, integer-quantized LUT), so
# the full train -> encode -> ADC -> re-rank pipeline replays in SQL.

_PQ_M = 8  # subspaces
_PQ_DSUB = 8  # dims per subspace (_DIM / _PQ_M)
_PQ_KSUB = 16  # codewords per subspace
_PQ_TRAIN_SAMPLE = 64  # train on at most _PQ_KSUB * 64 vectors (like IVF)
_PQ_REFINE = 4  # ADC keeps refine*topk candidates for exact re-rank
_PQ_LUT_SCALE = 1_000_000_000  # LUT distances -> integers (exact sums)


def _pq_codebooks_np(e: DataFrame) -> "np.ndarray":
    """Train the _PQ_M codebooks on the bounded sample, deterministic:
    per subspace, seeds = the first _PQ_KSUB sample subvectors, one
    Lloyd step under L2 (argmin ties -> lowest codeword), codeword =
    per-dim member mean (empty cluster keeps its seed), rounded to
    1e-9 so the numpy means and the oracle's sequential AVG agree
    exactly after rounding. Returns (m, ksub, dsub) float64. The
    collect is bounded (<= ksub*64 rows) regardless of corpus size —
    the offline-artifact shape a production PQ index trains once.

    The L2 accumulation loops over DIMENSIONS (acc += diff*diff), the
    same left-to-right fold the SQL oracle's list_aggregate performs,
    so assignments are bit-identical, not merely close."""
    rows = (
        e.filter(F.col("vec_id") < _PQ_KSUB * _PQ_TRAIN_SAMPLE)
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    if not rows:
        raise ValueError("no embeddings to train the PQ codebooks on")
    M = np.array([r.embedding for r in rows], dtype=np.float64)
    books = np.empty((_PQ_M, min(_PQ_KSUB, len(M)), _PQ_DSUB))
    for s in range(_PQ_M):
        X = M[:, s * _PQ_DSUB : (s + 1) * _PQ_DSUB]
        seeds = X[:_PQ_KSUB]
        d2 = np.zeros((len(X), len(seeds)))
        for d in range(_PQ_DSUB):
            diff = X[:, d : d + 1] - seeds[:, d][None, :]
            d2 = d2 + diff * diff
        assign = np.argmin(d2, axis=1)
        cents = np.empty_like(seeds)
        for j in range(len(seeds)):
            members = X[assign == j]
            cents[j] = members.mean(axis=0) if len(members) else seeds[j]
        books[s] = np.round(cents, 9)
    return books


def _pq_encode_udf(books: "np.ndarray"):
    """The Arrow encode kernel as a reusable pandas UDF (shared by the
    plain-PQ and IVF-PQ artifact builds): per-subspace argmin-L2
    codeword; the codebooks ride the closure (m*ksub*dsub doubles,
    broadcast-sized). Dimension-loop fold keeps the distances
    bit-identical to the oracle's sequential sum."""

    @F.pandas_udf("array<int>")
    def enc(e_: pd.Series) -> pd.Series:
        if not len(e_):
            return pd.Series([], dtype="object")
        M = np.vstack(e_.to_numpy()).astype(np.float64)
        codes = np.empty((len(M), _PQ_M), dtype=np.int32)
        for s in range(_PQ_M):
            X = M[:, s * _PQ_DSUB : (s + 1) * _PQ_DSUB]
            B = books[s]
            d2 = np.zeros((len(X), len(B)))
            for d in range(_PQ_DSUB):
                diff = X[:, d : d + 1] - B[:, d][None, :]
                d2 = d2 + diff * diff
            codes[:, s] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    return enc


def _pq_encode_arrow(e: DataFrame, books: "np.ndarray") -> DataFrame:
    """(vec_id, code array<int>): one Arrow batch per partition."""
    enc = _pq_encode_udf(books)
    return e.select("vec_id", enc(F.col("embedding")).alias("code"))


def _pq_books_df(spark: SparkSession, books: "np.ndarray") -> DataFrame:
    """(s, j, c_sub array<double>) view of the trained codebooks —
    m*ksub rows, the broadcast state the LUT build joins against."""
    return spark.createDataFrame(
        [
            (s, j, [float(v) for v in books[s, j]])
            for s in range(books.shape[0])
            for j in range(books.shape[1])
        ],
        "s int, j int, c_sub array<double>",
    )


def _pq_sq_sql(a: str, b: str) -> str:
    """DuckDB fragment: sequential-fold squared L2 distance between the
    dsub-dim expressions (each term written as diff*diff, not pow —
    pow(x, 2) is not guaranteed to be the bare product)."""
    terms = ", ".join(
        f"(({a}[{i+1}])::DOUBLE - ({b}[{i+1}])::DOUBLE) * "
        f"(({a}[{i+1}])::DOUBLE - ({b}[{i+1}])::DOUBLE)"
        for i in range(_PQ_DSUB)
    )
    return f"list_aggregate([{terms}], 'sum')"


def _pq_oracle_sql() -> str:
    """DuckDB replay of the ENTIRE PQ pipeline: per-subspace training
    (first-ksub seeds, one L2 Lloyd step, 1e-9-rounded means),
    corpus encoding, integer LUT, exact-integer ADC sums, candidate
    cut, exact cosine re-rank. Every fold is sequential and every
    selection compares either bit-identical floats or exact integers."""
    cos = lambda a, b: cosine_sql(a, b, _DIM)
    train_n = _PQ_KSUB * _PQ_TRAIN_SAMPLE
    sub = "[" + ", ".join(
        f"e.embedding[ss.s * {_PQ_DSUB} + {i+1}]" for i in range(_PQ_DSUB)
    ) + "]"
    qsub = "[" + ", ".join(
        f"q.q_emb[ss.s * {_PQ_DSUB} + {i+1}]" for i in range(_PQ_DSUB)
    ) + "]"
    return f"""
WITH ss AS (
  SELECT unnest(range({_PQ_M})) AS s
),
train AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {train_n}
),
tsub AS (
  SELECT e.vec_id, ss.s, {sub} AS x
  FROM train e CROSS JOIN ss
),
seeds AS (
  SELECT s, vec_id AS j, x AS s_sub FROM tsub WHERE vec_id < {_PQ_KSUB}
),
tassign AS (
  SELECT s, j, x FROM (
    SELECT t.s, sd.j, t.x,
           ROW_NUMBER() OVER (PARTITION BY t.s, t.vec_id
                              ORDER BY {_pq_sq_sql('t.x', 'sd.s_sub')} ASC,
                                       sd.j) AS rk
    FROM tsub t JOIN seeds sd ON sd.s = t.s
  ) WHERE rk = 1
),
books AS (
  SELECT sd.s, sd.j,
         coalesce(m.c_sub, list_transform(sd.s_sub, x -> round(x::DOUBLE, 9)))
           AS c_sub
  FROM seeds sd LEFT JOIN (
    SELECT s, j, list(c ORDER BY dim) AS c_sub
    FROM (
      SELECT a.s, a.j, d.dim, round(AVG(a.x[d.dim+1]::DOUBLE), 9) AS c
      FROM tassign a CROSS JOIN range({_PQ_DSUB}) d(dim)
      GROUP BY a.s, a.j, d.dim
    )
    GROUP BY s, j
  ) m ON m.s = sd.s AND m.j = sd.j
),
codes AS (
  SELECT vec_id, s, j FROM (
    SELECT e.vec_id, ss.s, b.j,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id, ss.s
                              ORDER BY {_pq_sq_sql(sub, 'b.c_sub')} ASC,
                                       b.j) AS rk
    FROM embeddings e CROSS JOIN ss JOIN books b ON b.s = ss.s
  ) WHERE rk = 1
),
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id < {_N_QUERIES}
),
lut AS (
  SELECT q.q_id, ss.s, b.j,
         CAST(round({_pq_sq_sql(qsub, 'b.c_sub')} * {_PQ_LUT_SCALE})
              AS BIGINT) AS d2_q
  FROM q CROSS JOIN ss JOIN books b ON b.s = ss.s
),
adc AS (
  SELECT l.q_id, c.vec_id, SUM(l.d2_q) AS adc_q
  FROM codes c JOIN lut l ON l.s = c.s AND l.j = c.j
  WHERE c.vec_id <> l.q_id
  GROUP BY l.q_id, c.vec_id
),
cand AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY adc_q ASC, vec_id) AS ark
    FROM adc
  ) WHERE ark <= {_PQ_REFINE * _TOPK}
),
rer AS (
  SELECT c.q_id, c.vec_id, {cos('q.q_emb', 'e.embedding')} AS cos_sim
  FROM cand c
  JOIN q ON q.q_id = c.q_id
  JOIN embeddings e ON e.vec_id = c.vec_id
)
SELECT q_id, vec_id, cos_sim,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT q_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id) AS rk
  FROM rer
) WHERE rk <= {_TOPK}
"""


def build_pq_index(spark: SparkSession, sf_dir: str, force: bool = False) -> str:
    """PQ code artifact: the corpus encoded once (8 int codes per
    vector, written as parquet) with the trained codebooks riding
    meta.json (1024 float64s — JSON round-trips binary64 exactly, so
    LUTs built from the stored books are bit-identical to
    build-time). After the build, probes never run the Arrow encode
    kernel again — the ADC scan is 100% JVM off an 8-byte-per-vector
    column. Same freshness contract as the LSH/IVF artifacts."""
    out = _index_dir("pq", sf_dir)
    fp = _embeddings_fingerprint(sf_dir)
    params = {
        "m": _PQ_M,
        "ksub": _PQ_KSUB,
        "dsub": _PQ_DSUB,
        "train_sample": _PQ_TRAIN_SAMPLE,
    }
    if not force and _artifact_is_fresh(out, fp, params):
        return out
    e = load_spread(spark, sf_dir, "embeddings")
    books = _pq_codebooks_np(e)
    tmp = f"{out}.tmp-{os.getpid()}"
    (
        _pq_encode_arrow(e, books)
        .sortWithinPartitions("vec_id")
        .write.mode("overwrite")
        .parquet(os.path.join(tmp, "data"))
    )
    _write_meta(
        tmp, {"fingerprint": fp, **params, "codebooks": books.tolist()}
    )
    _publish_artifact(tmp, out)
    return out


def pq_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, "np.ndarray"]:
    """(codes DataFrame, codebooks) from the artifact, building it
    first if absent or stale."""
    art = build_pq_index(spark, sf_dir)
    with open(os.path.join(art, "meta.json")) as fh:
        books = np.array(json.load(fh)["codebooks"], dtype=np.float64)
    return read_parquet(spark, os.path.join(art, "data")), books


@register(
    "ann_pq_adc_topk",
    oracle=_pq_oracle_sql(),
    tags=("similarity", "ann", "pq"),
    expose=False,
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011 shape): 64-dim
    vectors compress to {_PQ_M} one-byte codes; per query an ADC
    lookup table (subspace x codeword squared-L2, integer-quantized)
    is built JVM-side from the broadcast codebooks; the ADC scan sums
    {_PQ_M} exact integers per (query, vector) over the CODES ONLY —
    at 100 TB the scan reads 8 bytes per vector instead of 256, and
    the embedding column is touched again only for the
    {_PQ_REFINE}x{_TOPK}-row exact re-rank. Training + encoding run
    once into the PQ artifact (build_pq_index; training is
    sample-bounded driver numpy — deterministic seeds + one Lloyd
    step, 1e-9-rounded codebooks); probes are pure JVM over the code
    column. Every step replays in the SQL oracle with exact integer
    ADC ordering (no float-sum tie hazard in the scan)."""
    from pyspark.sql import Window as W

    codes, books = pq_index(spark, sf_dir)
    q = _pq_queries(spark, sf_dir)
    lut = _pq_lut(q, F.broadcast(_pq_books_df(spark, books)))
    # ADC scan: explode the 8 codes per vector, join the broadcast LUT,
    # sum exact integers — the only pass that touches every vector.
    # posexplode_OUTER on purpose: plain posexplode makes Catalyst
    # infer a size(code)>0 filter that is pushed below the spread
    # exchange and evaluates the Arrow encode UDF a second time; the
    # outer variant skips the inferred filter (enc always returns
    # exactly _PQ_M codes, so the two are semantically identical here).
    adc = (
        codes.select("vec_id", F.posexplode_outer("code").alias("s", "j"))
        .join(lut, ["s", "j"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d2_q").alias("adc_q"))
    )
    return _pq_refine_rank(spark, sf_dir, adc, q)


def _pq_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
        )
    )


def _pq_lut(q: DataFrame, books_df: DataFrame) -> DataFrame:
    """Broadcast per-query ADC lookup table (q_id, s, j, d2_q):
    m*ksub rows per query, squared L2 via the same sequential fold as
    the oracle, then integer-quantized so the scan's sums have no
    float-order hazard."""
    diff = lambda i: (
        F.element_at(F.col("q_emb"), F.col("s") * _PQ_DSUB + i + 1).cast(
            "double"
        )
        - F.element_at(F.col("c_sub"), i + 1)
    )
    d2 = None
    for i in range(_PQ_DSUB):
        term = diff(i) * diff(i)
        d2 = term if d2 is None else d2 + term
    return F.broadcast(
        q.crossJoin(books_df).select(
            "q_id",
            "s",
            "j",
            F.round(d2 * _PQ_LUT_SCALE).cast("bigint").alias("d2_q"),
        )
    )


def _pq_refine_rank(
    spark: SparkSession, sf_dir: str, adc: DataFrame, q: DataFrame
) -> DataFrame:
    """Shared ADC tail: candidate cut at refine*k by exact-integer ADC
    order, then exact-cosine re-rank over the candidate rows only."""
    from pyspark.sql import Window as W

    wa = W.partitionBy("q_id").orderBy(F.col("adc_q").asc(), F.col("vec_id"))
    cand = (
        adc.withColumn("ark", F.row_number().over(wa))
        .filter(F.col("ark") <= _PQ_REFINE * _TOPK)
        .select("q_id", "vec_id")
    )
    rer = (
        cand.join(load_table(spark, sf_dir, "embeddings"), "vec_id")
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id",
            "vec_id",
            cosine(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
        )
    )
    wr = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        rer.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= _TOPK)
        .select(
            "q_id",
            "vec_id",
            "cos_sim",
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


# --------------------------------------------------------------------------
# IVF-PQ: coarse cluster pruning + ADC over codes + exact re-rank
# --------------------------------------------------------------------------
# The two scale paths composed the way a production vector index
# (FAISS IVFx,PQy with by_residual=false) stacks them: the coarse
# quantizer prunes COMPUTE (only nprobe clusters are scanned) while
# the PQ codes prune MEMORY (the scanned partitions read 8 bytes per
# vector, not the embedding column). Codes quantize the raw vectors
# against the global codebooks (the non-residual variant), so the
# artifact reuses both trained models unchanged and the whole
# pipeline — both trainings, assignment, encoding, probe, ADC,
# re-rank — stays SQL-replayable end to end.


def build_ivfpq_index(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """(vec_id, code, cluster) parquet partitioned by cluster, with
    centroids AND codebooks in meta.json. ONE corpus pass computes
    both columns (two Arrow kernels in a single projection — the scan
    is not repeated per model)."""
    out = _index_dir("ivfpq", sf_dir)
    fp = _embeddings_fingerprint(sf_dir)
    params = {
        "n_clusters": _IVF_CLUSTERS,
        "train_sample": _IVF_TRAIN_SAMPLE,
        "m": _PQ_M,
        "ksub": _PQ_KSUB,
        "dsub": _PQ_DSUB,
    }
    if not force and _artifact_is_fresh(out, fp, params):
        return out
    e = load_spread(spark, sf_dir, "embeddings")
    cents_np = _ivf_centroids_np(e, _IVF_CLUSTERS)
    books = _pq_codebooks_np(e)
    assign = _ivf_assign_udf(cents_np)
    enc = _pq_encode_udf(books)
    df = e.select(
        "vec_id",
        enc(F.col("embedding")).alias("code"),
        assign(F.col("embedding")).alias("cluster"),
    )
    tmp = f"{out}.tmp-{os.getpid()}"
    (
        df.repartition("cluster")
        .sortWithinPartitions("vec_id")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(os.path.join(tmp, "data"))
    )
    _write_meta(
        tmp,
        {
            "fingerprint": fp,
            **params,
            "centroids": [[float(v) for v in row] for row in cents_np],
            "codebooks": books.tolist(),
        },
    )
    _publish_artifact(tmp, out)
    return out


def _ivfpq_oracle_sql() -> str:
    """DuckDB replay of the composed pipeline: IVF quantizer training
    + corpus cluster assignment (ctrain/cseeds/ctassign/cmeans/assign,
    the ann_ivf_topk oracle's CTEs renamed) and PQ codebook training +
    encoding (the ann_pq_adc_topk oracle's CTEs), then the composite
    probe: nprobe centroid cut -> integer ADC restricted to vectors
    whose cluster is probed -> refine*k candidate cut -> exact
    re-rank."""
    cos = lambda a, b: cosine_sql(a, b, _DIM)
    ctrain_n = _IVF_CLUSTERS * _IVF_TRAIN_SAMPLE
    ptrain_n = _PQ_KSUB * _PQ_TRAIN_SAMPLE
    sub = "[" + ", ".join(
        f"e.embedding[ss.s * {_PQ_DSUB} + {i+1}]" for i in range(_PQ_DSUB)
    ) + "]"
    qsub = "[" + ", ".join(
        f"q.q_emb[ss.s * {_PQ_DSUB} + {i+1}]" for i in range(_PQ_DSUB)
    ) + "]"
    return f"""
WITH ctrain AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {ctrain_n}
),
cseeds AS (
  SELECT vec_id AS c_id, embedding AS s_emb FROM ctrain WHERE vec_id < {_IVF_CLUSTERS}
),
ctassign AS (
  SELECT vec_id, c_id, embedding FROM (
    SELECT t.vec_id, s.c_id, t.embedding,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY {cos('t.embedding', 's.s_emb')} DESC,
                                       s.c_id) AS rk
    FROM ctrain t CROSS JOIN cseeds s
  ) WHERE rk = 1
),
cmeans AS (
  SELECT s.c_id,
         coalesce(m.c_emb, list_transform(s.s_emb, x -> x::DOUBLE))
           AS c_emb
  FROM cseeds s LEFT JOIN (
    SELECT c_id, list(avg_v ORDER BY dim) AS c_emb
    FROM (
      SELECT a.c_id, d.dim, AVG(a.embedding[d.dim+1]::DOUBLE) AS avg_v
      FROM ctassign a CROSS JOIN range({_DIM}) d(dim)
      GROUP BY a.c_id, d.dim
    )
    GROUP BY c_id
  ) m USING (c_id)
),
assign AS (
  SELECT vec_id, c_id AS cluster FROM (
    SELECT e.vec_id, c.c_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos('e.embedding', 'c.c_emb')} DESC,
                                       c.c_id) AS rk
    FROM embeddings e CROSS JOIN cmeans c
  ) WHERE rk = 1
),
ss AS (
  SELECT unnest(range({_PQ_M})) AS s
),
ptrain AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {ptrain_n}
),
tsub AS (
  SELECT e.vec_id, ss.s, {sub} AS x
  FROM ptrain e CROSS JOIN ss
),
pseeds AS (
  SELECT s, vec_id AS j, x AS s_sub FROM tsub WHERE vec_id < {_PQ_KSUB}
),
ptassign AS (
  SELECT s, j, x FROM (
    SELECT t.s, sd.j, t.x,
           ROW_NUMBER() OVER (PARTITION BY t.s, t.vec_id
                              ORDER BY {_pq_sq_sql('t.x', 'sd.s_sub')} ASC,
                                       sd.j) AS rk
    FROM tsub t JOIN pseeds sd ON sd.s = t.s
  ) WHERE rk = 1
),
books AS (
  SELECT sd.s, sd.j,
         coalesce(m.c_sub, list_transform(sd.s_sub, x -> round(x::DOUBLE, 9)))
           AS c_sub
  FROM pseeds sd LEFT JOIN (
    SELECT s, j, list(c ORDER BY dim) AS c_sub
    FROM (
      SELECT a.s, a.j, d.dim, round(AVG(a.x[d.dim+1]::DOUBLE), 9) AS c
      FROM ptassign a CROSS JOIN range({_PQ_DSUB}) d(dim)
      GROUP BY a.s, a.j, d.dim
    )
    GROUP BY s, j
  ) m ON m.s = sd.s AND m.j = sd.j
),
codes AS (
  SELECT vec_id, s, j FROM (
    SELECT e.vec_id, ss.s, b.j,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id, ss.s
                              ORDER BY {_pq_sq_sql(sub, 'b.c_sub')} ASC,
                                       b.j) AS rk
    FROM embeddings e CROSS JOIN ss JOIN books b ON b.s = ss.s
  ) WHERE rk = 1
),
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id < {_N_QUERIES}
),
probes AS (
  SELECT q_id, c_id FROM (
    SELECT q.q_id, c.c_id,
           ROW_NUMBER() OVER (PARTITION BY q.q_id
                              ORDER BY {cos('q.q_emb', 'c.c_emb')} DESC,
                                       c.c_id) AS prk
    FROM q CROSS JOIN cmeans c
  ) WHERE prk <= {_IVF_NPROBE}
),
lut AS (
  SELECT q.q_id, ss.s, b.j,
         CAST(round({_pq_sq_sql(qsub, 'b.c_sub')} * {_PQ_LUT_SCALE})
              AS BIGINT) AS d2_q
  FROM q CROSS JOIN ss JOIN books b ON b.s = ss.s
),
adc AS (
  SELECT l.q_id, c.vec_id, SUM(l.d2_q) AS adc_q
  FROM codes c
  JOIN assign a ON a.vec_id = c.vec_id
  JOIN probes p ON p.c_id = a.cluster
  JOIN lut l ON l.q_id = p.q_id AND l.s = c.s AND l.j = c.j
  WHERE c.vec_id <> l.q_id
  GROUP BY l.q_id, c.vec_id
),
cand AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY adc_q ASC, vec_id) AS ark
    FROM adc
  ) WHERE ark <= {_PQ_REFINE * _TOPK}
),
rer AS (
  SELECT c.q_id, c.vec_id, {cos('q.q_emb', 'e.embedding')} AS cos_sim
  FROM cand c
  JOIN q ON q.q_id = c.q_id
  JOIN embeddings e ON e.vec_id = c.vec_id
)
SELECT q_id, vec_id, cos_sim,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT q_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id) AS rk
  FROM rer
) WHERE rk <= {_TOPK}
"""


@register(
    "ann_ivfpq_topk",
    oracle=_ivfpq_oracle_sql(),
    tags=("similarity", "ann", "ivf", "pq"),
    expose=False,
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite IVF-PQ probe against the prebuilt artifact: the
    broadcast centroid cut selects nprobe clusters per query, the
    cluster-partitioned code artifact is scanned ONLY in those
    partitions (dynamic partition pruning from the broadcast probe
    join), the ADC sums {_PQ_M} exact integers per surviving vector,
    and refine*k candidates get the exact-cosine re-rank. At 100 TB
    the per-query cost is (nprobe/k of the corpus) x 8 bytes — both
    pruning axes compound, which is why this is the default shape for
    billion-vector deployments."""
    from pyspark.sql import Window as W

    path = build_ivfpq_index(spark, sf_dir)
    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    cents_np = np.array(meta["centroids"], dtype=np.float64)
    books = np.array(meta["codebooks"], dtype=np.float64)
    codes = read_parquet(spark, os.path.join(path, "data"))
    q = _pq_queries(spark, sf_dir)
    wp = W.partitionBy("q_id").orderBy(F.col("c_cs").desc(), F.col("c_id"))
    probes = (
        q.crossJoin(F.broadcast(_cents_df(spark, cents_np)))
        .select(
            "q_id",
            "c_id",
            cosine(F.col("q_emb"), F.col("c_emb")).alias("c_cs"),
        )
        .withColumn("prk", F.row_number().over(wp))
        .filter(F.col("prk") <= _IVF_NPROBE)
        .select("q_id", "c_id")
    )
    lut = _pq_lut(q, F.broadcast(_pq_books_df(spark, books)))
    adc = (
        codes.join(F.broadcast(probes), codes["cluster"] == probes["c_id"])
        .select("q_id", "vec_id", F.posexplode_outer("code").alias("s", "j"))
        .join(lut, ["q_id", "s", "j"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d2_q").alias("adc_q"))
    )
    return _pq_refine_rank(spark, sf_dir, adc, q)


# --------------------------------------------------------------------------
# Hard-negative mining for contrastive training
# --------------------------------------------------------------------------
# Contrastive embedding training (SimCLR/DPR/CLIP-style) needs, per
# anchor, the most-similar examples that are NOT the anchor's class —
# "hard" negatives. That is exactly an ANN top-k with a label-mismatch
# predicate pushed into candidate generation, so the operator reuses
# the deterministic LSH banding: bucket-collision candidates, label
# filter BEFORE scoring (the predicate rides the bucket join — wrong-
# class vectors never reach the cosine kernel), exact re-rank.

_HN_K = 5


_HN_ORACLE = f"""
WITH sigs AS (
{_sigs_sql(_N_BANDS, _PLANES_PER_BAND, extra=", label")}
),
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label, band, bsig
  FROM sigs WHERE vec_id < {_N_QUERIES}
),
cand AS (
  SELECT q.q_id, q.q_label, s.vec_id, s.label AS neg_label,
         MAX({cosine_sql('q.q_emb', 's.embedding', _DIM)}) AS cos_sim
  FROM q JOIN sigs s
    ON s.band = q.band AND s.bsig = q.bsig
   AND s.vec_id <> q.q_id AND s.label <> q.q_label
  GROUP BY q.q_id, q.q_label, s.vec_id, s.label
),
ranked AS (
  SELECT q_id, q_label, vec_id, neg_label, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id) AS rk
  FROM cand
)
SELECT q_id, q_label, vec_id, neg_label, cos_sim, rk
FROM ranked WHERE rk <= {_HN_K}
"""


@register(
    "embeddings_hard_negatives",
    oracle=_HN_ORACLE,
    tags=("similarity", "training", "contrastive"),
    expose=False,
)
def embeddings_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_HN_K} hard negatives per anchor: highest-cosine vectors
    with a DIFFERENT label, candidates from the deterministic LSH
    buckets. The label predicate is part of the bucket-join condition,
    so same-class vectors are dropped before any scoring; the corpus
    side carries (label) through the signature kernel rather than
    joining labels back post-hoc (at 100 TB a production index bakes
    the filter payload into its partitions for exactly this reason —
    an id-join against the corpus to recover labels would cost more
    than the probe itself)."""
    from pyspark.sql import Window as W

    e = load_spread(spark, sf_dir, "embeddings")
    sigs = _banded_sigs_arrow(
        e, _N_BANDS, _PLANES_PER_BAND, extra_cols=("label",)
    )
    q = F.broadcast(
        _banded_sigs_arrow(
            load_table(spark, sf_dir, "embeddings").filter(
                F.col("vec_id") < _N_QUERIES
            ),
            _N_BANDS,
            _PLANES_PER_BAND,
            extra_cols=("label",),
        ).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col("label").alias("q_label"),
            F.col("band").alias("q_band"),
            F.col("bsig").alias("q_bsig"),
        )
    )
    cand = q.join(
        sigs,
        (F.col("band") == F.col("q_band"))
        & (F.col("bsig") == F.col("q_bsig"))
        & (F.col("vec_id") != F.col("q_id"))
        & (F.col("label") != F.col("q_label")),
    )
    scored = (
        cand.select(
            "q_id",
            "q_label",
            "vec_id",
            F.col("label").alias("neg_label"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
        )
        .groupBy("q_id", "q_label", "vec_id", "neg_label")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _HN_K)
        .select("q_id", "q_label", "vec_id", "neg_label", "cos_sim", "rk")
    )


# --------------------------------------------------------------------------
# Embedding-space class separability (label margins)
# --------------------------------------------------------------------------
# The embedding-quality report a training pipeline runs before trusting
# labels: per-label centroids, then each vector's cosine margin between
# its own-label centroid and the best foreign centroid. Confused
# vectors (margin <= 0) and the dominant confusion target per label
# localize label noise / collapsed classes before training spends on
# them. Determinism: centroid sums use the k-means scaled-integer
# trick (order-independent exact BIGINTs); margins aggregate as
# 1e9-scaled integers for the same reason.

_LM_SCALE = float(1 << 30)
_LM_MARGIN_SCALE = 1_000_000_000


def _label_margins_oracle_sql() -> str:
    cos = lambda a, b: cosine_sql(a, b, _DIM)
    s_terms = ", ".join(
        f"SUM(CAST(round(embedding[{d + 1}]::DOUBLE * {_LM_SCALE}) AS BIGINT)) AS s{d}"
        for d in range(_DIM)
    )
    c_terms = ", ".join(
        f"(s{d}::DOUBLE / n) / {_LM_SCALE}" for d in range(_DIM)
    )
    return f"""
WITH sums AS (
  SELECT label, COUNT(*)::BIGINT AS n, {s_terms}
  FROM embeddings GROUP BY label
),
cents AS (
  SELECT label AS c_label, [{c_terms}] AS c_emb FROM sums
),
scored AS (
  SELECT e.vec_id, e.label, c.c_label, {cos('e.embedding', 'c.c_emb')} AS cs
  FROM embeddings e CROSS JOIN cents c
),
own AS (
  SELECT vec_id, label, cs AS own_cs FROM scored WHERE c_label = label
),
other AS (
  SELECT vec_id, cs AS other_cs, c_label AS other_label FROM (
    SELECT vec_id, cs, c_label,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cs DESC, c_label DESC) AS rk
    FROM scored WHERE c_label <> label
  ) WHERE rk = 1
),
pv AS (
  SELECT o.vec_id, o.label, o.own_cs, t.other_cs, t.other_label
  FROM own o JOIN other t USING (vec_id)
),
agg AS (
  SELECT label,
         COUNT(*)::BIGINT AS n_vecs,
         SUM(CAST(round((own_cs - other_cs) * {_LM_MARGIN_SCALE})
                  AS BIGINT))::BIGINT AS margin_sum_q,
         SUM(CASE WHEN own_cs <= other_cs THEN 1 ELSE 0 END)::BIGINT
           AS n_confused
  FROM pv GROUP BY label
),
conf AS (
  SELECT label, other_label AS top_confusion FROM (
    SELECT label, other_label,
           ROW_NUMBER() OVER (PARTITION BY label
                              ORDER BY COUNT(*) DESC, other_label) AS rk
    FROM pv WHERE own_cs <= other_cs GROUP BY label, other_label
  ) WHERE rk = 1
)
SELECT a.label, a.n_vecs, a.margin_sum_q, a.n_confused, c.top_confusion
FROM agg a LEFT JOIN conf c USING (label)
"""


@register(
    "embeddings_label_margins",
    oracle=_label_margins_oracle_sql(),
    tags=("similarity", "labels", "quality"),
    expose=False,
)
def embeddings_label_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label separability report: (label, n_vecs, margin_sum_q,
    n_confused, top_confusion). One corpus aggregation builds the
    centroids (65 combinable aggregates per label — the k-means
    shuffle shape, no 64-way explode), the centroid set broadcasts
    back over one narrow scoring pass (labels x dim doubles), and the
    per-vector own-vs-best-other margin reduces with exact integer
    sums. No driver collect anywhere — the centroid frame stays a
    DataFrame."""
    from pyspark.sql import Window as W

    e = load_spread(spark, sf_dir, "embeddings")
    sums = e.groupBy("label").agg(
        F.count("*").alias("n"),
        *[
            F.sum(
                F.round(
                    F.col("embedding")[d].cast("double") * _LM_SCALE
                ).cast("bigint")
            ).alias(f"s{d}")
            for d in range(_DIM)
        ],
    )
    cents = sums.select(
        F.col("label").alias("c_label"),
        F.array(
            *[
                (F.col(f"s{d}").cast("double") / F.col("n")) / _LM_SCALE
                for d in range(_DIM)
            ]
        ).alias("c_emb"),
    )
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "c_label",
        cosine(F.col("embedding"), F.col("c_emb")).alias("cs"),
    )
    pv = scored.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("c_label") == F.col("label"), F.col("cs"))).alias(
            "own_cs"
        ),
        F.max(
            F.when(
                F.col("c_label") != F.col("label"),
                F.struct(
                    F.col("cs").alias("cs"), F.col("c_label").alias("cl")
                ),
            )
        ).alias("other"),
    )
    # mirror the oracle's inner own⋈other join: a single-label corpus
    # has no foreign centroid, and the label must drop from the report
    # rather than surface with null-skipped sums (ADVICE r6)
    pv = pv.filter(F.col("other").isNotNull())
    margin_q = F.round(
        (F.col("own_cs") - F.col("other.cs")) * _LM_MARGIN_SCALE
    ).cast("bigint")
    confused = F.col("own_cs") <= F.col("other.cs")
    agg = pv.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum(margin_q).alias("margin_sum_q"),
        F.sum(confused.cast("int")).cast("bigint").alias("n_confused"),
    )
    wc = W.partitionBy("label").orderBy(
        F.col("cnt").desc(), F.col("top_confusion")
    )
    conf = (
        pv.filter(confused)
        .groupBy("label", F.col("other.cl").alias("top_confusion"))
        .agg(F.count("*").alias("cnt"))
        .withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") == 1)
        .select("label", "top_confusion")
    )
    return agg.join(conf, "label", "left").select(
        "label", "n_vecs", "margin_sum_q", "n_confused", "top_confusion"
    )


# --------------------------------------------------------------------------
# Index-quality observability: per-query recall of the LSH tier
# --------------------------------------------------------------------------
# The evaluation a production ANN deployment runs continuously: how
# much of the EXACT top-k does the approximate tier return? The pytest
# floors (tests/test_similarity.py) assert recall >= a threshold; this
# registered query pins the exact per-query recall VALUES against the
# oracle's independent replay of both rankers — index observability as
# a first-class query, not just a test. Cost: both rankers are already
# registered plans (the brute baseline is the eval's price of truth —
# production samples queries for exactly that reason), and the eval
# join touches k rows per query.


def _recall_oracle_sql() -> str:
    tier = """
SELECT '{name}' AS tier, br.q_id,
       COUNT(*)::BIGINT AS n_exact,
       SUM(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_hit,
       ROUND(SUM(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 6) AS recall_r
FROM br LEFT JOIN {cte} ap
  ON ap.q_id = br.q_id AND ap.vec_id = br.vec_id
GROUP BY br.q_id"""
    return (
        f"WITH br AS ({_ANN_ORACLE}),\n"
        f"lr AS ({_LSH_TOPK_ORACLE}),\n"
        f"ir AS ({_ivf_oracle_sql()})\n"
        + tier.format(name="lsh", cte="lr")
        + "\nUNION ALL\n"
        + tier.format(name="ivf", cte="ir")
    )


@register(
    "ann_recall_eval",
    oracle=_recall_oracle_sql(),
    tags=("similarity", "ann", "eval"),
    expose=False,
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of the approximate tiers (LSH and IVF)
    against the exact brute-force top-k — the standard ANN quality
    metric: join each approximate ranker with the exact one on
    (q_id, vec_id), count hits, divide by k. All three rankers ride
    their memoized registered plans, so the eval adds one
    k-rows-per-query join per tier; the oracle replays all three
    rankers AND the joins independently."""
    br = ann_cosine_topk(spark, sf_dir).select("q_id", "vec_id")

    def tier(name: str, approx: DataFrame) -> DataFrame:
        ap = approx.select(
            F.col("q_id").alias("a_q"), F.col("vec_id").alias("a_v")
        )
        j = br.join(
            ap,
            (F.col("q_id") == F.col("a_q"))
            & (F.col("vec_id") == F.col("a_v")),
            "left",
        )
        return j.groupBy("q_id").agg(
            F.count("*").cast("bigint").alias("n_exact"),
            F.sum(F.col("a_v").isNotNull().cast("int"))
            .cast("bigint")
            .alias("n_hit"),
            F.round(
                F.sum(F.col("a_v").isNotNull().cast("int")).cast("double")
                / F.count("*"),
                6,
            ).alias("recall_r"),
        ).select(F.lit(name).alias("tier"), "q_id", "n_exact", "n_hit", "recall_r")

    return tier("lsh", ann_lsh_topk(spark, sf_dir)).unionAll(
        tier("ivf", ann_ivf_topk(spark, sf_dir))
    )


# --------------------------------------------------------------------------
# Metadata-filtered vector search (the vector-DB table-stakes feature)
# --------------------------------------------------------------------------
# Production vector search is almost never unfiltered: "nearest
# neighbors WHERE tenant/language/label = X". The composition that
# scales is filter-THEN-rank (the filter prunes the candidate scan
# before any distance math; at the artifact tier the filter column is
# stored in-file so parquet row-group stats prune the probe scan — the
# same reason the LSH artifact keeps bsig sorted in-file). This
# registered query is the exact filtered baseline: same-label top-k
# per query, the correctness bar any filtered-ANN tier must match.

_FILTERED_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
  FROM embeddings WHERE vec_id < {_N_QUERIES}
),
scored AS (
  SELECT q.q_id, q.q_label, e.vec_id,
         {cosine_sql('q.q_emb', 'e.embedding', _DIM)} AS cos_sim
  FROM q JOIN embeddings e
    ON e.label = q.q_label AND e.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, q_label, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored
)
SELECT q_id, q_label AS label, vec_id, cos_sim, rk
FROM ranked WHERE rk <= {_TOPK}
"""


@register(
    "ann_filtered_topk",
    oracle=_FILTERED_ORACLE,
    tags=("similarity", "ann", "filter"),
    expose=False,
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered exact top-k: nearest neighbors restricted to
    the QUERY'S OWN label (the tenant/language/label predicate of
    production vector search), self excluded. The label equality is a
    JOIN KEY, not a post-score filter — candidates outside the label
    never reach the distance math, and at the artifact tier the same
    predicate prunes the probe scan via in-file column stats. Norms
    hoisted exactly like ann_cosine_topk so the scoring join pays one
    dot product per surviving pair."""
    e = load_spread(spark, sf_dir, "embeddings")
    cand = e.select(
        "vec_id",
        "label",
        "embedding",
        norm(F.col("embedding")).alias("c_norm"),
    )
    q = F.broadcast(
        cand.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("q_emb"),
            F.col("c_norm").alias("q_norm"),
        )
    )
    scored = q.join(
        cand,
        (F.col("label") == F.col("q_label"))
        & (F.col("vec_id") != F.col("q_id")),
    ).select(
        "q_id",
        "q_label",
        "vec_id",
        (
            dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_norm") * F.col("c_norm"))
        ).alias("cos_sim"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOPK)
        .select(
            "q_id", F.col("q_label").alias("label"), "vec_id", "cos_sim", "rk"
        )
    )


# --------------------------------------------------------------------------
# Graded ranking quality: NDCG@k of the approximate tiers
# --------------------------------------------------------------------------
# recall@k (ann_recall_eval) treats every exact top-k member equally;
# NDCG grades by position — missing the #1 neighbor hurts more than
# missing #10, which is what a retrieval deployment actually cares
# about. Gain of a candidate = k+1-rank in the EXACT ranking; DCG
# terms are quantized to round(x * 2^30) BIGINT before summing (the
# kmeans discipline: integer sums are exact and order-independent
# under any partitioning, and both engines' round() is
# half-away-from-zero for positive values), so the distributed sum is
# deterministic and the SQL replay bit-matches.

_NDCG_Q = 1 << 30


def _ndcg_oracle_sql() -> str:
    def dcg_terms(rk_col: str) -> str:
        return (
            f"CAST(round((({_TOPK} + 1 - br.rk)::DOUBLE"
            f" / log2({rk_col} + 1)) * {_NDCG_Q}) AS BIGINT)"
        )

    tier = f"""
SELECT '{{name}}' AS tier, br.q_id,
       SUM(CASE WHEN {{cte}}.vec_id IS NOT NULL
                THEN {dcg_terms(f"{{cte}}.rk")} ELSE 0 END)::BIGINT
         AS dcg_q30,
       ROUND(SUM(CASE WHEN {{cte}}.vec_id IS NOT NULL
                 THEN {dcg_terms(f"{{cte}}.rk")} ELSE 0 END)::DOUBLE
             / SUM({dcg_terms("br.rk")}), 6) AS ndcg_r
FROM br LEFT JOIN {{cte}}
  ON {{cte}}.q_id = br.q_id AND {{cte}}.vec_id = br.vec_id
GROUP BY br.q_id"""
    return (
        f"WITH br AS MATERIALIZED ({_ANN_ORACLE}),\n"
        f"lr AS MATERIALIZED ({_LSH_TOPK_ORACLE}),\n"
        f"ir AS MATERIALIZED ({_ivf_oracle_sql()})\n"
        + tier.format(name="lsh", cte="lr")
        + "\nUNION ALL\n"
        + tier.format(name="ivf", cte="ir")
    )


@register(
    "ann_ndcg_eval",
    oracle=_ndcg_oracle_sql(),
    tags=("similarity", "ann", "eval"),
    expose=False,
)
def ann_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query NDCG@k of the LSH and IVF tiers against the exact
    ranking: gain = k+1-exact_rank, DCG discounts by the APPROXIMATE
    tier's position (log2(rank+1)), normalized by the exact ranking's
    own DCG. Quantized-integer term sums keep the distributed
    aggregation bit-deterministic (see module comment); all three
    rankers ride their memoized registered plans."""
    br = ann_cosine_topk(spark, sf_dir).select(
        "q_id", "vec_id", F.col("rk").alias("b_rk")
    )
    rel = F.lit(_TOPK) + 1 - F.col("b_rk")

    def q30(rk_col: F.Column) -> F.Column:
        return F.round(
            rel.cast("double") / F.log2(rk_col + 1) * _NDCG_Q
        ).cast("bigint")

    def tier(name: str, approx: DataFrame) -> DataFrame:
        ap = approx.select(
            F.col("q_id").alias("a_q"),
            F.col("vec_id").alias("a_v"),
            F.col("rk").alias("a_rk"),
        )
        j = br.join(
            ap,
            (F.col("q_id") == F.col("a_q"))
            & (F.col("vec_id") == F.col("a_v")),
            "left",
        )
        hit_term = F.when(
            F.col("a_v").isNotNull(), q30(F.col("a_rk"))
        ).otherwise(F.lit(0))
        return j.groupBy("q_id").agg(
            F.sum(hit_term).cast("bigint").alias("dcg_q30"),
            F.round(
                F.sum(hit_term).cast("double")
                / F.sum(q30(F.col("b_rk"))),
                6,
            ).alias("ndcg_r"),
        ).select(F.lit(name).alias("tier"), "q_id", "dcg_q30", "ndcg_r")

    return tier("lsh", ann_lsh_topk(spark, sf_dir)).unionAll(
        tier("ivf", ann_ivf_topk(spark, sf_dir))
    )
