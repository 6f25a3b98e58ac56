"""Hybrid retrieval and diversity selection over the documents corpus.

Two curation-stage operators a production training-data / RAG pipeline
runs after the ranking primitives exist:

- **Hybrid search with reciprocal-rank fusion** (``docs_hybrid_search_rrf``):
  fuse the lexical ranker (Okapi BM25, operators/text.py) and the
  semantic ranker (hash-projection embedding cosine, operators/embed.py)
  by RRF (Cormack et al. 2009): score(d) = Σ_legs 1/(C + rank_leg(d)),
  C = 60 — the standard fusion for hybrid retrieval because it needs no
  score calibration between legs, only ranks. Both legs are the
  engine's existing oracle-verified rankers, so the fusion composes two
  proven components; the oracle replays both legs AND the fusion, so
  the whole hybrid result is value-checked.

- **k-center diversity selection** (``docs_kcenter_diverse``): the
  greedy farthest-point traversal (Gonzalez 1985) that diversity-aware
  curation uses to pick a maximally-spread representative subset of a
  corpus in embedding space (the 2-approximation of the k-center
  objective). Iterative by nature: k-1 rounds of "argmax over the
  corpus of min cosine-distance to the chosen set".

Scale shape:
- RRF: each leg is one corpus scan ending in TakeOrderedAndProject
  (per-partition heaps, never a global sort); the fusion joins two
  ≤K-row lists — driver-free, broadcast-sized. At 100 TB the legs ride
  their own scale tiers (BM25's literal-stats scan; the ANN ladder in
  operators/similarity.py stands above the exact-cosine leg) and the
  fusion cost stays O(K).
- k-center: k bounded collects of ONE row each (the argmax), k vectors
  of driver state, and a final one-scan assignment — the k-means
  trainer's bounded-collect discipline with an even smaller footprint.
  Each round's min-dist is a ≤k-term JVM ``least`` over codegen dot
  products; no Python, no shuffle (the corpus never exchanges — only
  per-partition top-1 candidates move).

Reference parity: the reference (confluentinc/streamlit-flink-demo)
has no retrieval surface — these are training-data-pipeline extensions
mandated by the build brief, not ports.
"""

from __future__ import annotations

import hashlib
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from streamlit_flink_demo_spark.functions.vectors import dot, dot_sql
from streamlit_flink_demo_spark.operators.embed import (
    _BKT_BITS,
    _EMB_DIM,
    _embed_ctes,
    _embed_frame,
    embed_columns,
    sign_bucket_col,
)
from streamlit_flink_demo_spark.operators.text import (
    _BM25_TERMS,
    bm25_ctes,
    bm25_scores,
)
from streamlit_flink_demo_spark.plans import register
from streamlit_flink_demo_spark.sources.catalog import load_spread, read_parquet

_RRF_C = 60  # Cormack et al.'s constant
_HY_K = 50  # per-leg candidate depth
_HY_TOPK = 20  # fused result size


def _py_u60(s: str) -> int:
    """Python replica of functions.hashing.u60 (md5 hex prefix)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _query_embedding() -> list[float]:
    """The hash-projection embedding of the fixed hybrid query (the
    BM25 term set as text), computed ONCE in Python with the exact
    fold orders of operators/embed.embed_columns — the resulting
    doubles enter BOTH engines as literals (the BM25-idf pattern), so
    neither engine re-derives the query-side encode."""
    v = [0] * _EMB_DIM
    for t in _BM25_TERMS:
        h = _py_u60("emb:" + t)
        for d in range(_EMB_DIM):
            v[d] += ((h >> d) & 1) * 2 - 1
    acc = 0.0
    for x in v:
        acc += float(x) * float(x)
    nrm = math.sqrt(acc)
    assert nrm > 0.0, "query term set hashed to the zero vector"
    return [float(x) / nrm for x in v]


_QUERY_EMB = _query_embedding()


def _hybrid_oracle_sql() -> str:
    qlit = "[" + ", ".join(repr(x) for x in _QUERY_EMB) + "]"
    cos = dot_sql("embedding", qlit, _EMB_DIM)
    steps = bm25_ctes() + _embed_ctes()
    steps.append(
        f"""lexk AS (
  SELECT doc_id, lex_rank FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY score_r DESC, doc_id) AS lex_rank
    FROM bm25s
  ) WHERE lex_rank <= {_HY_K}
)"""
    )
    steps.append(
        f"""semk AS (
  SELECT doc_id, sem_rank FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY {cos} DESC, doc_id) AS sem_rank
    FROM eemb
  ) WHERE sem_rank <= {_HY_K}
)"""
    )
    steps.append(
        f"""fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
         COALESCE(l.lex_rank, 0) AS lex_rank,
         COALESCE(s.sem_rank, 0) AS sem_rank,
         (COALESCE(1.0 / ({_RRF_C} + l.lex_rank), 0.0)
          + COALESCE(1.0 / ({_RRF_C} + s.sem_rank), 0.0)) AS rrf
  FROM lexk l FULL OUTER JOIN semk s ON l.doc_id = s.doc_id
)"""
    )
    return (
        "WITH "
        + ",\n".join(steps)
        + f"""
SELECT doc_id,
       CAST(lex_rank AS BIGINT) AS lex_rank,
       CAST(sem_rank AS BIGINT) AS sem_rank,
       ROUND(rrf, 9) AS rrf_r,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
         AS fused_rank
FROM fused
ORDER BY rrf DESC, doc_id
LIMIT {_HY_TOPK}
"""
    )


@register(
    "docs_hybrid_search_rrf",
    oracle=_hybrid_oracle_sql(),
    tags=("text", "retrieval", "hybrid"),
    expose=False,
)
def docs_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval fused by reciprocal-rank
    fusion: BM25 top-50 (_HY_K) and embedding-cosine top-50 against the
    same fixed query, fused as 1/(60+lex_rank) + 1/(60+sem_rank)
    (absent leg contributes 0), top-20 (_HY_TOPK) kept. Each leg ends
    in TakeOrderedAndProject (per-partition heaps); the fusion is a
    full outer join of two 50-row lists, so everything after the two
    corpus scans is broadcast-sized. The query embedding is a plan
    literal computed once in Python (the BM25-idf discipline) — the
    semantic leg is pure JVM codegen arithmetic over the shared
    persisted corpus encode."""
    d = load_spread(spark, sf_dir, "documents", min_bytes=32 << 20)
    lex_topk = (
        bm25_scores(d)
        .orderBy(F.col("score_r").desc(), F.col("doc_id"))
        .limit(_HY_K)
    )
    lexr = lex_topk.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("score_r").desc(), F.col("doc_id")))
        .cast("bigint")
        .alias("lex_rank"),
    )
    qlit = F.array(*[F.lit(x) for x in _QUERY_EMB])
    emb = _embed_frame(spark, sf_dir).select("doc_id", "embedding")
    sem_topk = (
        emb.select(
            "doc_id", dot(F.col("embedding"), qlit).alias("cos")
        )
        .orderBy(F.col("cos").desc(), F.col("doc_id"))
        .limit(_HY_K)
    )
    semr = sem_topk.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("cos").desc(), F.col("doc_id")))
        .cast("bigint")
        .alias("sem_rank"),
    )
    # USING-style full outer join coalesces doc_id; rank columns stay
    # null on the absent side until the explicit coalesce below.
    fused = lexr.join(semr, ["doc_id"], "full_outer").select(
        "doc_id",
        F.coalesce("lex_rank", F.lit(0)).cast("bigint").alias("lex_rank"),
        F.coalesce("sem_rank", F.lit(0)).cast("bigint").alias("sem_rank"),
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_C) + F.col("lex_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_C) + F.col("sem_rank")), F.lit(0.0)
            )
        ).alias("rrf"),
    )
    topk = fused.orderBy(F.col("rrf").desc(), F.col("doc_id")).limit(
        _HY_TOPK
    )
    return topk.select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        F.round("rrf", 9).alias("rrf_r"),
        F.row_number()
        .over(W.orderBy(F.col("rrf").desc(), F.col("doc_id")))
        .cast("bigint")
        .alias("fused_rank"),
    )


# --------------------------------------------------------------------------
# Greedy k-center (farthest-point) diversity selection
# --------------------------------------------------------------------------

_KC_K = 8  # selected subset size
_KC_SAMPLE_MOD = 4  # sampled variant: greedy over a 1/4 hash-sample


def u60_sql_kc(col: str) -> str:
    """DuckDB image of the k-center sample hash (u60 of 'kc:'||id)."""
    from streamlit_flink_demo_spark.functions.hashing import u60_sql

    return u60_sql(f"'kc:' || CAST({col} AS VARCHAR)")


def _kc_sample_col() -> F.Column:
    from streamlit_flink_demo_spark.functions.hashing import u60

    return u60(F.concat(F.lit("kc:"), F.col("doc_id").cast("string")))


def _kcenter_oracle_sql(sampled: bool = False) -> str:
    """Replay the greedy traversal as k-1 chained CTE steps (each:
    argmax of the running min-dist, then fold the new center into the
    min), then the one-scan assignment — structurally the exact SQL
    image of the Spark loop, so every selection decision AND the final
    assignment partition are value-checked. ``sampled`` draws the
    greedy CANDIDATE POOL from the deterministic 1/_KC_SAMPLE_MOD
    hash-sample (assignment stays full-corpus) — the scale variant's
    replay."""
    steps = _embed_ctes()
    steps.append(
        """kc0 AS (
  SELECT doc_id, embedding FROM eemb WHERE l2_norm > 0
)"""
    )
    pool = "kc0"
    if sampled:
        pred = (
            f"{u60_sql_kc('doc_id')} % {_KC_SAMPLE_MOD} = 0"
        )
        steps.append(
            f"kpool AS (SELECT * FROM kc0 WHERE {pred})"
        )
        pool = "kpool"
    # DuckDB forbids scalar subqueries INSIDE lambda/list-comprehension
    # bodies, so every center embedding is CROSS JOINed in as a plain
    # column before the dot-product comprehension references it.
    c1 = f"(SELECT MIN(doc_id) FROM {pool})"
    steps.append(
        f"""kd1 AS MATERIALIZED (
  SELECT k.doc_id, k.embedding,
         1.0 - {dot_sql("k.embedding", "c.cemb", _EMB_DIM)} AS md
  FROM {pool} k CROSS JOIN
       (SELECT embedding AS cemb FROM kc0 WHERE doc_id = {c1}) c
)"""
    )
    for i in range(2, _KC_K + 1):
        steps.append(
            f"""ks{i} AS MATERIALIZED (
  SELECT doc_id AS c_id, md AS sel_md
  FROM kd{i - 1} ORDER BY md DESC, doc_id LIMIT 1
)"""
        )
        if i < _KC_K:
            steps.append(
                f"""kd{i} AS MATERIALIZED (
  SELECT k.doc_id, k.embedding,
         LEAST(k.md, 1.0 - {dot_sql("k.embedding", "c.cemb", _EMB_DIM)}) AS md
  FROM kd{i - 1} k CROSS JOIN
       (SELECT embedding AS cemb FROM kc0
        WHERE doc_id = (SELECT c_id FROM ks{i})) c
)"""
            )
    centers = " UNION ALL ".join(
        [
            f"SELECT 1 AS sel_rank, {c1} AS doc_id, "
            "CAST(NULL AS DOUBLE) AS sel_radius"
        ]
        + [
            f"SELECT {i}, (SELECT c_id FROM ks{i}), (SELECT sel_md FROM ks{i})"
            for i in range(2, _KC_K + 1)
        ]
    )
    steps.append(f"kcent AS ({centers})")
    cemb_cols = ", ".join(
        f"(SELECT embedding FROM kc0 WHERE doc_id = "
        f"(SELECT doc_id FROM kcent WHERE sel_rank = {i})) AS ce{i}"
        for i in range(1, _KC_K + 1)
    )
    steps.append(f"kce AS (SELECT {cemb_cols})")
    arr = (
        "["
        + ", ".join(
            "1.0 - " + dot_sql("e.embedding", f"x.ce{i}", _EMB_DIM)
            for i in range(1, _KC_K + 1)
        )
        + "]"
    )
    steps.append(
        f"""kasg AS (
  SELECT doc_id,
         list_position(dists, list_aggregate(dists, 'min')) AS sel_rank,
         list_aggregate(dists, 'min') AS d
  FROM (SELECT e.doc_id, {arr} AS dists
        FROM kc0 e CROSS JOIN kce x)
)"""
    )
    return (
        "WITH "
        + ",\n".join(steps)
        + """
SELECT c.sel_rank::BIGINT AS sel_rank,
       c.doc_id,
       ROUND(c.sel_radius, 9) AS sel_radius_r,
       COUNT(a.doc_id)::BIGINT AS n_assigned,
       COALESCE(SUM(a.doc_id), 0)::BIGINT AS assigned_checksum,
       ROUND(MAX(a.d), 9) AS coverage_r
FROM kcent c LEFT JOIN kasg a ON a.sel_rank = c.sel_rank
GROUP BY c.sel_rank, c.doc_id, c.sel_radius
"""
    )


@register(
    "docs_kcenter_diverse",
    oracle=_kcenter_oracle_sql(),
    tags=("embed", "similarity", "diversity"),
    expose=False,
)
def docs_kcenter_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center diversity selection over the deterministic
    document embeddings (k=8, _KC_K): seed at the lowest doc_id, then
    repeatedly take the document FARTHEST (max-min cosine distance,
    doc_id tie-break) from the chosen set — Gonzalez's 2-approximation,
    the standard diversity-subset primitive. Zero-norm (empty) docs are
    excluded (their cosine is undefined; every distance would tie at
    1.0). Output per center: selection order, the selection radius
    (its min-dist when chosen — null for the seed), and the one-scan
    nearest-center assignment (count / doc_id checksum / coverage
    radius; distance ties assign to the earliest-selected center on
    both engines). Driver state: 8 rows of 16 doubles; per round the
    corpus never shuffles — only per-partition top-1 candidates move
    (TakeOrderedAndProject). The k-1 argmax rounds each scan the full
    corpus — fine for a registered query at k=8; a production run at
    scale uses ``docs_kcenter_sampled`` (greedy over a deterministic
    hash-sample, assignment full-corpus), which retires this
    full-scan cost."""
    return _kcenter_run(spark, sf_dir, sampled=False)


@register(
    "docs_kcenter_sampled",
    oracle=_kcenter_oracle_sql(sampled=True),
    tags=("embed", "similarity", "diversity"),
    expose=False,
)
def docs_kcenter_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE variant of greedy k-center (the IVF-training
    discipline): the k-1 greedy argmax rounds run over a DETERMINISTIC
    1/4 hash-sample of the corpus (u60('kc:'||doc_id) %
    _KC_SAMPLE_MOD), so the iterative phase scans the sample, not the
    corpus; only the final nearest-center assignment is one
    full-corpus pass. Gonzalez's guarantee degrades gracefully under
    sampling (the chosen centers 2-approximate the SAMPLE's k-center
    objective, and the full assignment reports true coverage) — this
    is the form a 100 TB run uses, retiring docs_kcenter_diverse's
    8-sequential-full-scan caveat. Same oracle template with the pool
    CTE sampled; assignment value-checked full-corpus."""
    return _kcenter_run(spark, sf_dir, sampled=True)


def _kcenter_run(
    spark: SparkSession, sf_dir: str, sampled: bool
) -> DataFrame:
    emb = (
        _embed_frame(spark, sf_dir)
        .filter(F.col("l2_norm") > 0)
        .select("doc_id", "embedding")
    )
    pool = (
        emb.filter(_kc_sample_col() % _KC_SAMPLE_MOD == 0)
        if sampled
        else emb
    )
    seed = (
        pool.orderBy("doc_id")
        .limit(1)
        .select("doc_id", "embedding")
        .collect()[0]
    )
    centers: list[tuple[int, list[float], float | None]] = [
        (seed["doc_id"], list(seed["embedding"]), None)
    ]

    def dists_to(centers_embs: list[list[float]]) -> list[F.Column]:
        return [
            F.lit(1.0)
            - dot(F.col("embedding"), F.array(*[F.lit(x) for x in ce]))
            for ce in centers_embs
        ]

    for _ in range(_KC_K - 1):
        dcols = dists_to([ce for _, ce, _ in centers])
        md = dcols[0] if len(dcols) == 1 else F.least(*dcols)
        nxt = (
            pool.select("doc_id", "embedding", md.alias("md"))
            .orderBy(F.col("md").desc(), F.col("doc_id"))
            .limit(1)
            .collect()[0]
        )
        centers.append((nxt["doc_id"], list(nxt["embedding"]), nxt["md"]))

    arr = F.array(*dists_to([ce for _, ce, _ in centers]))
    asg = emb.select(
        "doc_id",
        F.array_position(arr, F.array_min(arr)).cast("int").alias(
            "sel_rank"
        ),
        F.array_min(arr).alias("d"),
    )
    cent = spark.createDataFrame(
        [
            (i + 1, cid, rad)
            for i, (cid, _, rad) in enumerate(centers)
        ],
        "sel_rank int, doc_id bigint, sel_radius double",
    )
    return (
        cent.join(asg.withColumnRenamed("doc_id", "a_id"), "sel_rank", "left")
        .groupBy("sel_rank", "doc_id", "sel_radius")
        .agg(
            F.count("a_id").cast("bigint").alias("n_assigned"),
            F.coalesce(F.sum("a_id"), F.lit(0))
            .cast("bigint")
            .alias("assigned_checksum"),
            F.round(F.max("d"), 9).alias("coverage_r"),
        )
        .select(
            F.col("sel_rank").cast("bigint").alias("sel_rank"),
            "doc_id",
            F.round("sel_radius", 9).alias("sel_radius_r"),
            "n_assigned",
            "assigned_checksum",
            "coverage_r",
        )
    )


# --------------------------------------------------------------------------
# Overlapping document chunking + chunk-level semantic search
# --------------------------------------------------------------------------
# RAG-granularity retrieval: whole-document embeddings blur long
# documents (the averaged bag hides the passage that actually
# matches), so retrieval pipelines chunk with overlap and index the
# CHUNKS. Chunking is a pure map-only projection (explode a stride
# sequence + substr — it rides the scan's partitioning at any corpus
# size); chunk-level search is then exactly the existing
# text→embed→cosine pipeline with chunks as the unit, sharing the
# encoder fold via embed_columns / _embed_ctes so the chunk tier
# cannot drift from the document tier.

_CHUNK_W = 200  # chunk width (chars)
_CHUNK_STRIDE = 150  # 50-char overlap
_CHUNK_KEYBASE = 10_000  # chunk_key = doc_id * base + chunk_id
_CHK_N_QUERIES = 5
_CHK_TOPK = 5


def chunk_columns(d: DataFrame) -> DataFrame:
    """(doc_id, chunk_id, start, chunk) overlapping fixed-width chunks
    of every nonempty document — map-only (explode of a per-row stride
    sequence; no shuffle, no Python)."""
    return (
        d.filter(F.length("text") > 0)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0), F.length("text") - 1, F.lit(_CHUNK_STRIDE)
                )
            ).alias("start"),
            "text",
        )
        .select(
            "doc_id",
            (F.col("start") / _CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
            F.col("start").cast("bigint").alias("start"),
            F.col("text")
            .substr(F.col("start") + 1, F.lit(_CHUNK_W))
            .alias("chunk"),
        )
    )


_CHUNKS_CTE = f"""chunks AS (
  SELECT doc_id, k // {_CHUNK_STRIDE} AS chunk_id, k AS start,
         substr(text, k + 1, {_CHUNK_W}) AS chunk
  FROM (
    SELECT doc_id, text, unnest(range(0, length(text), {_CHUNK_STRIDE})) AS k
    FROM documents WHERE length(text) > 0
  )
)"""


_CHUNK_ORACLE = f"""
WITH {_CHUNKS_CTE}
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(start AS BIGINT) AS start,
       CAST(length(chunk) AS BIGINT) AS chunk_len,
       md5(chunk) AS chunk_md5
FROM chunks
"""


@register(
    "docs_chunk_overlap",
    oracle=_CHUNK_ORACLE,
    tags=("text", "retrieval", "chunk"),
    expose=False,
)
def docs_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width chunking (200-char chunks, 150-char
    stride → 50-char overlap) of every nonempty document: the unit
    conversion step of a RAG indexing pipeline. One map-only
    projection; every chunk's boundary and content md5 is
    value-checked by the oracle."""
    d = load_spread(spark, sf_dir, "documents", min_bytes=32 << 20)
    c = chunk_columns(d)
    return c.select(
        "doc_id",
        "chunk_id",
        "start",
        F.length("chunk").cast("bigint").alias("chunk_len"),
        F.md5("chunk").alias("chunk_md5"),
    )


def _chunk_search_oracle_sql() -> str:
    from streamlit_flink_demo_spark.operators.embed import _embed_ctes

    steps = [_CHUNKS_CTE]
    steps.append(
        f"""chunk_src AS (
  SELECT doc_id * {_CHUNK_KEYBASE} + chunk_id AS doc_id, chunk AS text
  FROM chunks
)"""
    )
    steps.extend(_embed_ctes(src="chunk_src", prefix="c"))
    steps.extend(_embed_ctes())  # query side over documents -> eemb
    cos = dot_sql("q.q_emb", "c.embedding", _EMB_DIM)
    steps.append(
        f"""cq AS (
  SELECT doc_id AS q_id, embedding AS q_emb FROM eemb
  WHERE doc_id < {_CHK_N_QUERIES}
)"""
    )
    return (
        "WITH "
        + ",\n".join(steps)
        + f"""
SELECT q_id, doc_id, chunk_id, cos_sim, rk FROM (
  SELECT q.q_id,
         c.doc_id // {_CHUNK_KEYBASE} AS doc_id,
         c.doc_id % {_CHUNK_KEYBASE} AS chunk_id,
         {cos} AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q.q_id
                            ORDER BY {cos} DESC, c.doc_id) AS rk
  FROM cq q JOIN cemb c ON c.doc_id // {_CHUNK_KEYBASE} <> q.q_id
) WHERE rk <= {_CHK_TOPK}
"""
    )


@register(
    "docs_chunk_embed_search",
    oracle=_chunk_search_oracle_sql(),
    tags=("embed", "retrieval", "chunk"),
    expose=False,
)
def docs_chunk_embed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity semantic search: document-level query
    embeddings (the shared corpus encode) against CHUNK embeddings
    (the same hash-projection fold over chunk_columns output), exact
    cosine, top-5 chunks per query, own-document chunks excluded —
    the retrieval shape a RAG pipeline serves, where the hit names
    the passage (doc_id, chunk_id), not just the document. One
    map-only chunk+encode pass, a broadcast query join, one rank
    shuffle; the ANN ladder stands above this exact baseline at scale
    exactly as it does for documents."""
    from streamlit_flink_demo_spark.operators.embed import embed_columns

    d = load_spread(spark, sf_dir, "documents", min_bytes=32 << 20)
    chunks = chunk_columns(d).select(
        (F.col("doc_id") * _CHUNK_KEYBASE + F.col("chunk_id")).alias(
            "doc_id"
        ),
        F.col("chunk").alias("text"),
    )
    cemb = embed_columns(chunks).select(
        (F.col("doc_id") / _CHUNK_KEYBASE).cast("bigint").alias("c_doc"),
        (F.col("doc_id") % _CHUNK_KEYBASE).alias("chunk_id"),
        "embedding",
    )
    q = F.broadcast(
        _embed_frame(spark, sf_dir)
        .filter(F.col("doc_id") < _CHK_N_QUERIES)
        .select(
            F.col("doc_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
        )
    )
    scored = q.join(cemb, F.col("c_doc") != F.col("q_id")).select(
        "q_id",
        F.col("c_doc").alias("doc_id"),
        "chunk_id",
        dot(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
    )
    w = W.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(),
        (F.col("doc_id") * _CHUNK_KEYBASE + F.col("chunk_id")),
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _CHK_TOPK)
        .select("q_id", "doc_id", "chunk_id", "cos_sim", "rk")
    )


# --------------------------------------------------------------------------
# Chunk-embedding artifact + ANN-ladder chunk search
# --------------------------------------------------------------------------
# docs_chunk_embed_search above is the EXACT baseline and re-encodes
# the whole chunk corpus per run — linear, but not the plan you want
# at 100x. The production form materializes the chunk encode ONCE as
# a fingerprinted artifact partitioned by the sign-LSH bucket (the
# SAME rows streaming/vector_ingest.py lands for the delta — batch
# artifact and streamed tail share one schema and one bucketing, so
# compaction is a fold, not a re-encode) and answers queries with a
# bucket-pruned probe: partition-pruned scan + broadcast join + rank,
# index cost instead of encode cost.

_CHUNK_IDX_KIND = "chunk_embed"


def chunk_embed_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_id, n_tokens, bucket, embedding) for every chunk
    of every nonempty document — the batch artifact's rows AND the
    streaming vector-ingest projection (stateless, so the identical
    call serves both; streaming/vector_ingest.py re-exports it)."""
    keyed = chunk_columns(docs).select(
        (F.col("doc_id") * _CHUNK_KEYBASE + F.col("chunk_id")).alias(
            "doc_id"
        ),
        F.col("chunk").alias("text"),
    )
    emb = embed_columns(keyed)
    return emb.select(
        (F.col("doc_id") / _CHUNK_KEYBASE).cast("bigint").alias("doc_id"),
        (F.col("doc_id") % _CHUNK_KEYBASE).cast("bigint").alias("chunk_id"),
        "n_tokens",
        sign_bucket_col().alias("bucket"),
        "embedding",
    )


def build_chunk_embed_index(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Materialize the chunk-embedding index for ``sf_dir``: one
    chunk+encode pass over documents, landed as parquet PARTITIONED BY
    the sign-LSH bucket (2^_BKT_BITS = 256 directories, each sorted by
    (doc_id, chunk_id)) — the 100 TB shape: the encode runs once, and
    every probe after it is a bucket-pruned scan. Fingerprinted on the
    source documents table plus every layout parameter (chunk width /
    stride / embedding dim / bucket bits), atomically published via
    symlink swap (similarity._publish_artifact), skipped when fresh.
    Timed in the bench artifacts ledger as chunk_embed_index_build_sec.
    """
    from streamlit_flink_demo_spark.operators.similarity import (
        _artifact_is_fresh,
        _index_dir,
        _publish_artifact,
        _write_meta,
        table_fingerprint,
    )

    out = _index_dir(_CHUNK_IDX_KIND, sf_dir)
    fp = table_fingerprint(sf_dir, "documents")
    params = {
        "chunk_w": _CHUNK_W,
        "stride": _CHUNK_STRIDE,
        "emb_dim": _EMB_DIM,
        "bkt_bits": _BKT_BITS,
    }
    if not force and _artifact_is_fresh(out, fp, params):
        return out
    d = load_spread(spark, sf_dir, "documents", min_bytes=32 << 20)
    rows = chunk_embed_rows(d)
    tmp = f"{out}.tmp-{os.getpid()}"
    (
        rows.repartition("bucket")
        .sortWithinPartitions("doc_id", "chunk_id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(tmp, "data"))
    )
    _write_meta(tmp, {"fingerprint": fp, **params})
    _publish_artifact(tmp, out)
    return out


def chunk_embed_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunk index as a DataFrame (doc_id, chunk_id, n_tokens,
    bucket, embedding), building the artifact first if absent/stale."""
    return read_parquet(
        spark, os.path.join(build_chunk_embed_index(spark, sf_dir), "data")
    )


def chunk_ann_probe_topk(
    q: DataFrame,
    index_df: DataFrame,
    k: int = _CHK_TOPK,
    hamming1: bool = False,
) -> DataFrame:
    """Shared bucket-probe → score → rank block: broadcast queries
    (q_id, q_emb, q_bucket) against any (doc_id, chunk_id, bucket,
    embedding) chunk index frame — the build-once artifact path
    (docs_chunk_ann_search) and a base+tail freshness path probe
    through ONE definition so tie-breaking cannot fork. The join key
    is the artifact's PARTITION column, so the tiny broadcast side
    dynamic-partition-prunes the scan to the ≤|q| touched buckets;
    own-document chunks are excluded; exact cosine re-rank inside the
    bucket (embeddings are L2-normalized, so dot = cosine) with
    deterministic (score desc, doc, chunk) tie-break.

    ``hamming1`` turns on multi-probe (Lv et al. 2007, the
    lsh_probe_topk discipline): each query also probes the 8 buckets
    at Hamming distance 1 from its sign bucket — 9/256 = 3.5% of the
    index instead of 1/256, for a measured recall@5 lift of
    0.36 → ~0.84 (docs_chunk_ann_recall). Candidate sets stay
    disjoint (each index row lives in exactly ONE bucket), so no
    dedup pass is needed."""
    if hamming1:
        probes = F.array(
            F.col("q_bucket"),
            *[
                F.col("q_bucket").bitwiseXOR(F.lit(1 << b))
                for b in range(_BKT_BITS)
            ],
        )
        q = q.withColumn("q_bucket", F.explode(probes))
    cand = F.broadcast(q).join(
        index_df,
        (F.col("bucket") == F.col("q_bucket"))
        & (F.col("doc_id") != F.col("q_id")),
    )
    scored = cand.select(
        "q_id",
        "doc_id",
        "chunk_id",
        dot(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
    )
    w = W.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("doc_id"), F.col("chunk_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("q_id", "doc_id", "chunk_id", "cos_sim", "rk")
    )


def _chunk_ann_oracle_sql(hamming1: bool = False) -> str:
    bucket = " + ".join(
        f"(CASE WHEN v[{d + 1}] > 0 THEN {1 << d} ELSE 0 END)"
        for d in range(_BKT_BITS)
    )
    steps = [_CHUNKS_CTE]
    steps.append(
        f"""chunk_src AS (
  SELECT doc_id * {_CHUNK_KEYBASE} + chunk_id AS doc_id, chunk AS text
  FROM chunks
)"""
    )
    steps.extend(_embed_ctes(src="chunk_src", prefix="c"))
    steps.extend(_embed_ctes())  # query side over documents -> eemb
    steps.append(
        f"""cidx AS (
  SELECT doc_id // {_CHUNK_KEYBASE} AS doc_id,
         doc_id % {_CHUNK_KEYBASE} AS chunk_id,
         CAST({bucket} AS BIGINT) AS bucket,
         embedding
  FROM cemb
)"""
    )
    steps.append(
        f"""cq0 AS (
  SELECT doc_id AS q_id, embedding AS q_emb,
         CAST({bucket} AS BIGINT) AS q_bucket
  FROM eemb WHERE doc_id < {_CHK_N_QUERIES}
)"""
    )
    if hamming1:
        probe_list = ", ".join(
            ["q_bucket"]
            + [f"xor(q_bucket, {1 << b})" for b in range(_BKT_BITS)]
        )
        steps.append(
            f"""cq AS (
  SELECT q_id, q_emb, unnest([{probe_list}]) AS q_bucket FROM cq0
)"""
        )
    else:
        steps.append("cq AS (SELECT * FROM cq0)")
    cos = dot_sql("q.q_emb", "c.embedding", _EMB_DIM)
    return (
        "WITH "
        + ",\n".join(steps)
        + f"""
SELECT q_id, doc_id, chunk_id, cos_sim, rk FROM (
  SELECT q.q_id, c.doc_id, c.chunk_id,
         {cos} AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q.q_id
                            ORDER BY {cos} DESC, c.doc_id, c.chunk_id)
           AS rk
  FROM cq q JOIN cidx c
    ON c.bucket = q.q_bucket AND c.doc_id <> q.q_id
) WHERE rk <= {_CHK_TOPK}
"""
    )


@register(
    "docs_chunk_ann_search",
    oracle=_chunk_ann_oracle_sql(),
    tags=("embed", "retrieval", "chunk", "ann"),
)
def docs_chunk_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN chunk retrieval over the build-once chunk-embedding
    artifact: document-level query embeddings probe ONLY their
    sign-LSH bucket's partition of the prebuilt chunk index
    (build_chunk_embed_index — parquet partitioned by bucket, built on
    miss, fingerprint-checked), then exact cosine re-rank inside the
    bucket, top-5 chunks per query, own-document chunks excluded.

    This is the scale path above docs_chunk_embed_search's exact
    baseline: that query re-encodes every chunk per run (its honest
    disclosure); this one pays the encode once in the artifact ledger
    and each probe is a partition-pruned scan + broadcast join — probe
    cost ∝ bucket size, not corpus size. The bucketing is the SAME
    sign-LSH the streaming vector ingest stamps on its rows
    (streaming/vector_ingest.py), so the streamed tail folds into
    this artifact without re-encoding. Deterministic hyperplane-free
    signs (the fold vector's own bits) make the whole build+probe
    SQL-expressible — the oracle replays chunking, encode, bucketing,
    and the bucket-join bit-for-bit."""
    q = _chunk_queries(spark, sf_dir)
    return chunk_ann_probe_topk(q, chunk_embed_index(spark, sf_dir))


def _chunk_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _embed_frame(spark, sf_dir)
        .filter(F.col("doc_id") < _CHK_N_QUERIES)
        .select(
            F.col("doc_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            sign_bucket_col().alias("q_bucket"),
        )
    )


@register(
    "docs_chunk_ann_multiprobe",
    oracle=_chunk_ann_oracle_sql(hamming1=True),
    tags=("embed", "retrieval", "chunk", "ann"),
    expose=False,
)
def docs_chunk_ann_multiprobe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-probe chunk ANN: same artifact, each query additionally
    probes the 8 buckets at Hamming distance 1 from its sign bucket
    (9/256 = 3.5% of the index) — recall@5 0.36 → ~0.84 versus the
    single-bucket tier (docs_chunk_ann_recall carries the measured
    numbers as an oracle-checked query; the ≥0.8 floor is pinned in
    tests/test_retrieval.py). Probe fan-out instead of extra hash
    tables: index bytes are the expensive axis at 100 TB, and the
    fan-out rides the same dynamic partition pruning (9 bucket values
    instead of 1 in the pruning subquery).

    Scale decision (round 12, SCALE.md): the fan-out IS the product.
    Per QUERY the scanned fraction is fixed at 9/256 = 3.5% of the
    index — a ~28× cheaper probe than exact at matched recall ≥ 0.8;
    the sweep's 11.4×-at-100× row reflects the 25-query benchmark
    batch saturating 256 buckets (25×9 probes ≈ 88% of the bucket
    space), a batch-size-vs-bucket-count artifact, not a scale term.
    A larger deployment re-buckets with more sign bits (constant
    expected bucket width) and buys recall back with more probes —
    the standard LSH recall/probe dial; write-time rank truncation
    was evaluated and rejected because any query-independent
    per-bucket cap preferentially drops exactly the boundary chunks
    Hamming-1 probes exist to find."""
    q = _chunk_queries(spark, sf_dir)
    return chunk_ann_probe_topk(
        q, chunk_embed_index(spark, sf_dir), hamming1=True
    )


def _chunk_recall_oracle_sql() -> str:
    tier = """
SELECT '{name}' AS tier, br.q_id,
       COUNT(*)::BIGINT AS n_exact,
       SUM(CASE WHEN {cte}.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_hit,
       ROUND(SUM(CASE WHEN {cte}.doc_id IS NOT NULL THEN 1 ELSE 0
             END)::DOUBLE / COUNT(*), 6) AS recall_r
FROM br LEFT JOIN {cte}
  ON {cte}.q_id = br.q_id AND {cte}.doc_id = br.doc_id
 AND {cte}.chunk_id = br.chunk_id
GROUP BY br.q_id"""
    return (
        f"WITH br AS MATERIALIZED ({_chunk_search_oracle_sql()}),\n"
        f"ap AS MATERIALIZED ({_chunk_ann_oracle_sql()}),\n"
        f"mp AS MATERIALIZED ({_chunk_ann_oracle_sql(hamming1=True)})\n"
        + tier.format(name="bucket", cte="ap")
        + "\nUNION ALL\n"
        + tier.format(name="multiprobe", cte="mp")
    )


@register(
    "docs_chunk_ann_recall",
    oracle=_chunk_recall_oracle_sql(),
    tags=("embed", "retrieval", "chunk", "ann", "eval"),
    expose=False,
)
def docs_chunk_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of BOTH approximate chunk tiers — the
    single-bucket probe (docs_chunk_ann_search) and the Hamming-1
    multi-probe (docs_chunk_ann_multiprobe) — against the exact chunk
    search (docs_chunk_embed_search): the ann_recall_eval discipline
    applied to passage granularity, so each tier's quality is a
    registered, oracle-checked number rather than a hope (measured:
    bucket ~0.36, multiprobe ~0.84 mean). Join each tier's
    (q_id, doc_id, chunk_id) hit list with the exact one, count
    overlap, divide by k; all rankers ride their memoized registered
    plans."""
    br = docs_chunk_embed_search(spark, sf_dir).select(
        "q_id", "doc_id", "chunk_id"
    )

    def tier(name: str, approx: DataFrame) -> DataFrame:
        ap = approx.select(
            F.col("q_id").alias("a_q"),
            F.col("doc_id").alias("a_d"),
            F.col("chunk_id").alias("a_c"),
        )
        j = br.join(
            ap,
            (F.col("q_id") == F.col("a_q"))
            & (F.col("doc_id") == F.col("a_d"))
            & (F.col("chunk_id") == F.col("a_c")),
            "left",
        )
        return j.groupBy("q_id").agg(
            F.count("*").cast("bigint").alias("n_exact"),
            F.sum(F.col("a_d").isNotNull().cast("int"))
            .cast("bigint")
            .alias("n_hit"),
            F.round(
                F.sum(F.col("a_d").isNotNull().cast("int")).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("recall_r"),
        ).select(
            F.lit(name).alias("tier"),
            "q_id",
            "n_exact",
            "n_hit",
            "recall_r",
        )

    return tier("bucket", docs_chunk_ann_search(spark, sf_dir)).unionAll(
        tier("multiprobe", docs_chunk_ann_multiprobe(spark, sf_dir))
    )
