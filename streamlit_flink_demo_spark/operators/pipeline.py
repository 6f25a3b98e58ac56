"""Training-data pipeline compositions over the documents corpus.

The single-purpose operators (text stats, dedup, lang-id) exist in
operators/text.py and operators/dedup.py; this module composes them
into the shapes an LLM-pretraining data pipeline actually runs:

- deterministic train/eval splitting (hash-mod, reproducible across
  runs and engines — never RAND(), which cannot be re-derived),
- quality-filter → exact-dedup → per-source yield accounting,
- context-window packing (greedy offset packing of documents into
  fixed token budgets via partitioned running sums).

All three are pure DataFrame ops with DuckDB oracles. Nothing here
appears in the reference (SURVEY.md §2.5) — this is the north-star
extension surface (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from streamlit_flink_demo_spark.functions.hashing import u60, u60_sql
from streamlit_flink_demo_spark.functions.ngrams import split_tokens_expr
from streamlit_flink_demo_spark.operators.sampling import _rate_bps_sql
from streamlit_flink_demo_spark.plans import register, track_persist
from streamlit_flink_demo_spark.sources.catalog import load_spread, load_table

# --------------------------------------------------------------------------
# Deterministic train/eval split
# --------------------------------------------------------------------------


@register(
    "docs_train_eval_split",
    oracle=f"""
SELECT CASE WHEN {u60_sql("CAST(doc_id AS VARCHAR)")} % 100 < 90
            THEN 'train' ELSE 'eval' END AS split,
       lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
""",
    tags=("pipeline", "split"),
)
def docs_train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/10 train/eval split by hash-mod of the document id — the
    reproducible alternative to RAND() sampling: any engine (and any
    re-run over 100 TB) derives the same membership, so eval never
    leaks into train across pipeline versions. Pure projection +
    aggregation; the hash stays in codegen."""
    d = load_table(spark, sf_dir, "documents")
    split = F.when(
        u60(F.col("doc_id").cast("string")) % 100 < 90, "train"
    ).otherwise("eval")
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


# --------------------------------------------------------------------------
# Quality filter → exact dedup → yield accounting
# --------------------------------------------------------------------------

_WS = r"\S+"


@register(
    "docs_quality_dedup_yield",
    oracle=f"""
WITH kept AS (
  SELECT doc_id, text, source, n_chars
  FROM documents
  WHERE n_chars BETWEEN 100 AND 500
    AND len(regexp_extract_all(text, '{_WS}')) >= 20
),
canonical AS (
  SELECT MIN(doc_id) AS keep_id
  FROM kept
  GROUP BY md5(text)
)
SELECT k.source,
       COUNT(*) AS n_docs_kept,
       CAST(SUM(k.n_chars) AS BIGINT) AS chars_kept
FROM kept k
JOIN canonical c ON k.doc_id = c.keep_id
GROUP BY k.source
""",
    tags=("pipeline", "dedup", "quality"),
)
def docs_quality_dedup_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical pretraining-corpus pass: length/token quality
    gate → exact dedup (keep the lowest doc_id per content digest) →
    per-source yield accounting. The dedup shuffle carries
    (16-byte digest, id) only; the semi-join back is on doc_id. At
    100 TB each stage stays linear and the only quadratic-risk step
    (duplicate groups) is bounded by true duplicate cardinality."""
    from pyspark.sql.window import Window as W

    d = load_table(spark, sf_dir, "documents")
    kept = d.filter(
        F.col("n_chars").between(100, 500)
        & (F.regexp_count(F.col("text"), F.lit(_WS)) >= 20)
    ).select("doc_id", F.md5("text").alias("h"), "source", "n_chars")
    # keeper = min doc_id per digest as a window — ONE scan and ONE
    # shuffle (the agg + semi-join decorrelation scans `kept` twice);
    # the shuffle carries (digest, id, source, n_chars), never text.
    return (
        kept.withColumn("keep_id", F.min("doc_id").over(W.partitionBy("h")))
        .filter(F.col("doc_id") == F.col("keep_id"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n_chars").alias("chars_kept"),
        )
    )


# --------------------------------------------------------------------------
# Context-window packing (greedy offset packing)
# --------------------------------------------------------------------------

_CTX_TOKENS = 256


# --------------------------------------------------------------------------
# Eval-set contamination (train ∩ eval shingle overlap)
# --------------------------------------------------------------------------


@register(
    "docs_eval_contamination",
    oracle=f"""
WITH sh AS (
  SELECT doc_id,
         {u60_sql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
         unnest(list_distinct([
             lower(t[i+1]) || ' ' || lower(t[i+2]) || ' ' || lower(t[i+3])
             for i in range(len(t) - 2)
         ])) AS s
  FROM (SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9]+') AS t
        FROM documents)
  WHERE len(t) >= 3
),
eval_sh AS (
  SELECT DISTINCT s FROM sh WHERE bucket >= 90
),
train AS (
  SELECT doc_id, s FROM sh WHERE bucket < 90
),
sizes AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY doc_id
),
shared AS (
  SELECT doc_id, COUNT(*) AS n_shared
  FROM train JOIN eval_sh USING (s)
  GROUP BY doc_id
)
SELECT sizes.doc_id,
       CAST(sizes.n_shingles AS BIGINT) AS n_shingles,
       CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
       COALESCE(n_shared, 0) / sizes.n_shingles::DOUBLE AS contamination
FROM sizes LEFT JOIN shared ON sizes.doc_id = shared.doc_id
""",
    tags=("pipeline", "contamination", "join"),
    expose=False,
)
def docs_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination scan — the check a training pipeline runs
    before a release: for every TRAIN document (hash-mod split, same
    rule as docs_train_eval_split), the fraction of its distinct
    3-word shingles that also occur anywhere in the EVAL split. The
    eval shingle set is the small side by construction (10% of docs)
    → broadcast semi-structure: train shingles never shuffle for the
    membership probe, only the per-doc counts do. At 100 TB the eval
    set is a fixed benchmark suite (orders of magnitude smaller
    still); the train side stays a narrow explode."""
    from pyspark.sql.window import Window as W  # noqa: F401  (parity w/ file style)

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        (u60(F.col("doc_id").cast("string")) % 100).alias("bucket"),
        F.expr(split_tokens_expr("text", "^A-Za-z0-9")).alias("t"),
    ).filter(F.size("t") >= 3)
    sh = toks.select(
        "doc_id",
        "bucket",
        F.explode(
            F.array_distinct(
                F.transform(
                    # index carrier: positions 0..n-3 of the token array
                    F.slice(F.col("t"), 1, F.size("t") - 2),
                    lambda _, i: F.concat_ws(
                        " ",
                        F.lower(F.element_at(F.col("t"), i + 1)),
                        F.lower(F.element_at(F.col("t"), i + 2)),
                        F.lower(F.element_at(F.col("t"), i + 3)),
                    ),
                )
            )
        ).alias("s"),
    )
    eval_sh = (
        sh.filter(F.col("bucket") >= 90).select("s").distinct()
    )
    train = track_persist(sh.filter(F.col("bucket") < 90).select("doc_id", "s"))
    sizes = train.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    shared = (
        train.join(F.broadcast(eval_sh), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return sizes.join(shared, "doc_id", "left").select(
        "doc_id",
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
        (
            F.coalesce("n_shared", F.lit(0)) / F.col("n_shingles").cast("double")
        ).alias("contamination"),
    )


# --------------------------------------------------------------------------
# Approximate distinct counting (HLL) — the cardinality probe at scale
# --------------------------------------------------------------------------


# Deterministic HLL parameters: p=10 → m=1024 registers (std error
# 1.04/√m ≈ 3.3%), 50-bit rho window from the 60-bit md5 hash.
_HLL_P = 10
_HLL_M = 1 << _HLL_P
_HLL_W = 60 - _HLL_P  # 50
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)
# E = alpha·m²·2^(W+1) / Σ 2^(W+1-Mj): scaled so register sums are
# EXACT BIGINTs (no float accumulation) — C is the only float literal,
# baked identically into both engines' expressions.
_HLL_C = _HLL_ALPHA * _HLL_M * _HLL_M * float(1 << (_HLL_W + 1))
_HLL_LC_THRESH = 2.5 * _HLL_M
# Linear-counting lookup m·ln(m/V) precomputed in Python for each
# possible zero-register count V: ln() is not bit-identical across
# engines, a baked literal table is.
_HLL_LC = [_HLL_M * __import__("math").log(_HLL_M / v) for v in range(1, _HLL_M + 1)]

_SAMPLE_MOD = 4  # 25% deterministic sample for the rank quantiles


def _hll_oracle() -> str:
    # .17e forces DuckDB to parse each literal as DOUBLE (bare decimals
    # parse as DECIMAL and re-round on the cast — 1-ulp drift vs the
    # identical Spark literal); 17 significant digits round-trip every
    # IEEE double exactly.
    lc_arr = "[" + ",".join(f"{v:.17e}" for v in _HLL_LC) + "]"
    wmask = (1 << _HLL_W) - 1
    return f"""
WITH h0 AS (
  SELECT event_type,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT::BIGINT AS h
  FROM events
),
h1 AS (
  SELECT event_type, h >> {_HLL_W} AS bucket, h & {wmask} AS w FROM h0
),
s1 AS (SELECT event_type, bucket, w | (w >> 1) AS s FROM h1),
s2 AS (SELECT event_type, bucket, s | (s >> 2) AS s FROM s1),
s3 AS (SELECT event_type, bucket, s | (s >> 4) AS s FROM s2),
s4 AS (SELECT event_type, bucket, s | (s >> 8) AS s FROM s3),
s5 AS (SELECT event_type, bucket, s | (s >> 16) AS s FROM s4),
s6 AS (SELECT event_type, bucket, s | (s >> 32) AS s FROM s5),
regs AS (
  SELECT event_type, bucket,
         MAX({_HLL_W + 1} - bit_count(s)) AS m_j
  FROM s6 GROUP BY event_type, bucket
),
agg AS (
  SELECT event_type,
         SUM(1::BIGINT << ({_HLL_W + 1} - m_j)) AS s_present,
         COUNT(*) AS n_present
  FROM regs GROUP BY event_type
),
est AS (
  SELECT event_type,
         {_HLL_M} - n_present AS v_zero,
         {_HLL_C!r} / (s_present + ({_HLL_M} - n_present) * {1 << (_HLL_W + 1)}) AS raw_est
  FROM agg
),
hll AS (
  SELECT event_type,
         CASE WHEN raw_est <= {_HLL_LC_THRESH!r} AND v_zero > 0
              THEN ({lc_arr})[v_zero]
              ELSE raw_est END AS approx_users
  FROM est
),
sm AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
  WHERE value IS NOT NULL
    AND ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::UBIGINT::BIGINT
        % {_SAMPLE_MOD} = 0
),
pct AS (
  -- ceil(p·n) in exact integer form: (num·n + den - 1) // den — float
  -- (or DECIMAL) p·n rounds differently across engines when it lands
  -- on an integer
  SELECT event_type,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN value END) AS p50_value,
         MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN value END) AS p95_value
  FROM sm GROUP BY event_type
)
SELECT hll.event_type, hll.approx_users, pct.p50_value, pct.p95_value
FROM hll JOIN pct ON hll.event_type = pct.event_type
"""


@register(
    "events_approx_distinct", oracle=_hll_oracle(), tags=("pipeline", "approx")
)
def events_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregation per event_type, built from DETERMINISTIC
    sketches so the whole family is oracle-checkable (no engine-private
    HLL++/KLL state):

    - ``approx_users``: our own HyperLogLog over md5-derived hashes —
      bucket = top p bits, rho via smear+popcount (integer-exact MSB),
      registers = one (type, bucket) groupBy MAX, estimate from an
      EXACT BIGINT register sum with the standard linear-counting
      small-range correction (ln values baked as literals). Fixed m
      registers per group, fully mergeable: the same two-level partial
      aggregation Spark's native approx_count_distinct runs, with none
      of the sketch bytes leaving the JVM.
    - ``p50/p95_value``: rank-selected (discrete) quantiles over a 25%
      md5-deterministic sample — value-typed output with zero float
      interpolation, so sampling is the only approximation.

    Error bounds vs the exact answers are pytest-asserted
    (tests/test_similarity.py). At 100 TB: both sketches are one
    partial-aggregated shuffle of fixed-size state; the quantile
    sample cuts the sorted-rank work 4× and is the standard
    sample-then-select pattern."""
    e = load_table(spark, sf_dir, "events")
    h = u60(F.col("user_id").cast("string"))
    w = h.bitwiseAND(F.lit((1 << _HLL_W) - 1))
    s = w
    for sh in (1, 2, 4, 8, 16, 32):
        s = s.bitwiseOR(F.shiftright(s, sh))
    rho = F.lit(_HLL_W + 1) - F.bit_count(s)
    regs = (
        e.select(
            "event_type",
            F.shiftright(h, _HLL_W).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    agg = regs.groupBy("event_type").agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_W + 1} - m_j)")
        ).alias("s_present"),
        F.count("*").alias("n_present"),
    )
    v_zero = F.lit(_HLL_M) - F.col("n_present")
    raw = F.lit(_HLL_C) / (
        F.col("s_present") + v_zero * F.lit(1 << (_HLL_W + 1))
    )
    lc = F.array(*[F.lit(v) for v in _HLL_LC])
    hll = agg.select(
        "event_type",
        F.when(
            (raw <= F.lit(_HLL_LC_THRESH)) & (v_zero > 0),
            F.element_at(lc, v_zero.cast("int")),
        )
        .otherwise(raw)
        .alias("approx_users"),
    )

    sm = e.filter(
        F.col("value").isNotNull()
        & (u60(F.col("event_id").cast("string")) % _SAMPLE_MOD == 0)
    ).select("event_type", "value")
    wspec = W.partitionBy("event_type").orderBy("value")
    ranked = sm.select(
        "event_type",
        "value",
        F.row_number().over(wspec).alias("rn"),
        F.count("*").over(W.partitionBy("event_type")).alias("n"),
    )
    pct = ranked.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("value"))
        ).alias("p50_value"),
        F.max(
            F.when(F.col("rn") == F.expr("(19 * n + 19) div 20"), F.col("value"))
        ).alias("p95_value"),
    )
    return hll.join(pct, "event_type")


@register(
    "docs_pack_contexts",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(text, '{_WS}')) AS n_tok
  FROM documents
),
cum AS (
  SELECT doc_id, lang, n_tok,
         SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tok AS start_tok
  FROM toks
)
SELECT lang,
       CAST(start_tok // {_CTX_TOKENS} AS BIGINT) AS ctx_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM cum
GROUP BY lang, CAST(start_tok // {_CTX_TOKENS} AS BIGINT)
""",
    tags=("pipeline", "packing", "window"),
)
def docs_pack_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: documents are laid end-to-end per
    language shard (deterministic doc_id order) and assigned to the
    fixed-budget context their starting offset falls in — the
    distributed form of greedy sequence packing for training batches.
    One window shuffle on the shard key, reused by the final group-by
    (same partitioning). At 100 TB the shard key is
    (lang, path-bucket) so each running sum stays partition-local."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.regexp_count(F.col("text"), F.lit(_WS)).alias("n_tok"),
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = toks.withColumn("start_tok", F.sum("n_tok").over(w) - F.col("n_tok"))
    return (
        cum.groupBy(
            "lang",
            # integer division (not /, whose double result would round
            # differently on the bigint cast across engines)
            F.expr(f"start_tok div {_CTX_TOKENS}").alias("ctx_id"),
        )
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )


# --------------------------------------------------------------------------
# End-to-end corpus pass: quality -> dedup -> stratified sample -> split
# --------------------------------------------------------------------------


@register(
    "docs_e2e_pipeline",
    oracle=f"""
WITH kept AS (
  SELECT doc_id, text, lang, n_chars
  FROM documents
  WHERE n_chars BETWEEN 100 AND 500
    AND len(regexp_extract_all(text, '{_WS}')) >= 20
),
canonical AS (
  SELECT MIN(doc_id) AS keep_id FROM kept GROUP BY md5(text)
),
uniq AS (
  SELECT k.doc_id, k.lang, k.n_chars
  FROM kept k JOIN canonical c ON k.doc_id = c.keep_id
),
sampled AS (
  SELECT doc_id, lang, n_chars
  FROM uniq
  WHERE {u60_sql("'strat:' || CAST(doc_id AS VARCHAR)")} % 10000 <
        {_rate_bps_sql()}
)
SELECT CASE WHEN {u60_sql("CAST(doc_id AS VARCHAR)")} % 100 < 90
            THEN 'train' ELSE 'eval' END AS split,
       lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM sampled
GROUP BY 1, 2
""",
    tags=("pipeline", "e2e"),
    expose=False,
)
def docs_e2e_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus pass composed end-to-end: quality gate (length
    + token floor) -> exact dedup (lowest doc_id per content digest)
    -> per-language stratified sampling -> train/eval split -> yield
    accounting per (split, lang). Each stage is the already-verified
    operator's exact logic (docs_quality_dedup_yield,
    docs_stratified_sample, docs_train_eval_split); the point of this
    query is that the COMPOSITION holds under one optimizer pass: one
    scan of documents, digest-only dedup shuffle, hash-gated sampling
    and splitting in codegen, one final aggregation."""
    from pyspark.sql.window import Window as W

    from streamlit_flink_demo_spark.operators.sampling import _rate_bps_col

    d = load_table(spark, sf_dir, "documents")
    kept = d.filter(
        F.col("n_chars").between(100, 500)
        & (F.regexp_count(F.col("text"), F.lit(_WS)) >= 20)
    ).select("doc_id", F.md5("text").alias("h"), "lang", "n_chars")
    uniq = (
        kept.withColumn("keep_id", F.min("doc_id").over(W.partitionBy("h")))
        .filter(F.col("doc_id") == F.col("keep_id"))
        .drop("h", "keep_id")
    )
    draw = u60(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))) % 10_000
    sampled = uniq.filter(draw < _rate_bps_col())
    split = F.when(
        u60(F.col("doc_id").cast("string")) % 100 < 90, "train"
    ).otherwise("eval")
    return (
        sampled.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


# --------------------------------------------------------------------------
# DSIR: importance weights for data selection
# --------------------------------------------------------------------------
# Data Selection via Importance Resampling (Xie et al. 2023): score
# every raw document by how much more likely its hashed-n-gram bag is
# under a TARGET distribution (a trusted high-quality slice — here the
# lang='en' slice standing in for DSIR's Wikipedia/books target) than
# under the RAW corpus distribution. log w(x) = Σ_f [ln p_t(f) −
# ln p_r(f)] over the doc's unigram+bigram features hashed into
# _DSIR_B buckets (Laplace-smoothed). Downstream, selection resamples
# ∝ w(x); the weight table is the artifact this operator produces.
#
# Scale shape: one doc-partitioned explode+lead pass builds the
# feature stream (persisted — it feeds three consumers); the two count
# tables are BOUNDED at _DSIR_B rows by construction (feature hashing
# exists precisely to cap model size), so both sides of the scoring
# join broadcast at any corpus size; per-doc sums are scaled-integer
# (the docs_lm_score trick) so the distributed fold is deterministic
# and bit-identical to the SQL replay. The smoothing constants enter
# once per doc via a 1-row totals broadcast — no driver collect.

_DSIR_B = 4096
_DSIR_SCALE = float(1 << 40)
_DSIR_TARGET = "en"


def _dsir_oracle_sql() -> str:
    b = _DSIR_B
    s = _DSIR_SCALE
    return rf"""
WITH toks AS (
  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS w
  FROM documents WHERE text IS NOT NULL
), grams AS (
  SELECT doc_id, lang, unnest(w) AS g FROM toks
  UNION ALL
  SELECT doc_id, lang,
         unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
  FROM toks WHERE len(w) >= 2
), feats AS (
  SELECT doc_id, lang, {u60_sql('g')} % {b} AS bkt FROM grams
), cr AS (
  SELECT bkt, COUNT(*) AS c_r FROM feats GROUP BY bkt
), ct AS (
  SELECT bkt, COUNT(*) AS c_t FROM feats WHERE lang = '{_DSIR_TARGET}'
  GROUP BY bkt
), tot AS (
  SELECT COUNT(*) AS tr,
         COUNT(*) FILTER (lang = '{_DSIR_TARGET}') AS tt
  FROM feats
), scored AS (
  SELECT f.doc_id,
         CAST(round((ln(COALESCE(ct.c_t, 0) + 1) - ln(cr.c_r + 1)) * {s})
              AS BIGINT) AS q
  FROM feats f JOIN cr USING (bkt) LEFT JOIN ct USING (bkt)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_feats,
       ROUND(CAST(SUM(q) AS DOUBLE) / {s}
             + COUNT(*) * (ln(tr + {b}) - ln(tt + {b})), 6) AS logw_r
FROM scored CROSS JOIN tot
GROUP BY doc_id, tr, tt
"""


@register(
    "docs_dsir_weights",
    oracle=_dsir_oracle_sql(),
    tags=("pipeline", "dsir", "selection", "quality"),
    expose=False,
)
def docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight: hashed unigram+bigram bag
    scored under target (lang='en' slice) vs raw corpus n-gram
    distributions, Laplace-smoothed. High logw_r = looks like the
    target slice; resample ∝ exp(logw) downstream. Count tables are
    _DSIR_B-bounded → always broadcastable; per-doc sums are
    scaled-integer quantized → order-independent and exact vs the
    oracle."""
    from streamlit_flink_demo_spark.sources.catalog import load_spread

    from streamlit_flink_demo_spark.functions.ngrams import ngram_array_expr

    d = load_spread(spark, sf_dir, "documents", min_bytes=32 << 20).filter(
        F.col("text").isNotNull()
    )
    # unigrams ++ bigrams from the split array in one projection —
    # zero exchanges before the bucket counts (see functions/ngrams).
    base = d.select(
        "doc_id",
        "lang",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w"),
    )
    grams = base.select(
        "doc_id",
        "lang",
        F.explode(
            F.concat(F.col("w"), F.expr(ngram_array_expr(2)))
        ).alias("g"),
    )
    feats = track_persist(
        grams.select(
            "doc_id", "lang", (u60(F.col("g")) % _DSIR_B).alias("bkt")
        )
    )
    is_t = F.col("lang") == _DSIR_TARGET
    cr = feats.groupBy("bkt").agg(F.count("*").alias("c_r"))
    ct = feats.filter(is_t).groupBy("bkt").agg(F.count("*").alias("c_t"))
    # totals fold the ≤_DSIR_B-row count tables, NOT the feature
    # stream — a third full pass over the corpus for two scalars was
    # the review-caught waste; Σc_r / Σc_t are the same values by
    # construction.
    tot = cr.agg(F.sum("c_r").alias("tr")).crossJoin(
        ct.agg(F.coalesce(F.sum("c_t"), F.lit(0)).alias("tt"))
    )
    scored = (
        feats.join(F.broadcast(cr), "bkt")
        .join(F.broadcast(ct), "bkt", "left")
        .select(
            "doc_id",
            F.round(
                (
                    F.ln(F.coalesce(F.col("c_t"), F.lit(0)) + 1)
                    - F.ln(F.col("c_r") + 1)
                )
                * _DSIR_SCALE
            )
            .cast("bigint")
            .alias("q"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.count("*").alias("n_feats"), F.sum("q").alias("sq"))
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.col("n_feats").cast("bigint").alias("n_feats"),
            F.round(
                F.col("sq").cast("double") / _DSIR_SCALE
                + F.col("n_feats")
                * (
                    F.ln(F.col("tr") + _DSIR_B)
                    - F.ln(F.col("tt") + _DSIR_B)
                ),
                6,
            ).alias("logw_r"),
        )
    )


# --------------------------------------------------------------------------
# Naive-Bayes text classifier (fastText-style quality/domain gate)
# --------------------------------------------------------------------------
# The trainable-classifier stage of a data pipeline (CCNet / fastText
# quality and language gates): multinomial Naive Bayes over hashed
# unigram features, trained CLOSED-FORM in one aggregation pass on the
# deterministic hash-mod train split, scored on the eval split.
# score(d,c) = ln P(c) + Σ_f ln p_c(f), Laplace-smoothed; predicted
# class = argmax (ties → lexicographically smallest class). Here the
# label is `lang` (ground truth exists for accuracy assertions); the
# same shape trains any label column.
#
# Scale shape: the model IS two bounded broadcast tables — per-class
# feature counts (≤ _DSIR_B × n_classes rows) and class stats
# (n_classes rows). Training = one groupBy over the train slice's
# feature stream; scoring = eval features × classes (broadcast
# fan-out, n_classes-bounded) left-joined to the model, scaled-integer
# per-(doc,class) sums, one argmax window per doc. No driver-side
# model state, no Python.

_NB_B = _DSIR_B  # same hashed-feature space as DSIR


def _nb_oracle_sql() -> str:
    b, s = _NB_B, _DSIR_SCALE
    train = f"{u60_sql('CAST(doc_id AS VARCHAR)')} % 100 < 90"
    return rf"""
WITH toks AS (
  SELECT doc_id, lang, {train} AS is_train,
         string_split_regex(lower(trim(text)), '\s+') AS w
  FROM documents WHERE text IS NOT NULL
), feats AS (
  SELECT doc_id, lang, is_train,
         {u60_sql('g')} % {b} AS bkt
  FROM (SELECT doc_id, lang, is_train, unnest(w) AS g FROM toks)
), model AS (
  SELECT lang AS cls, bkt, COUNT(*) AS cnt
  FROM feats WHERE is_train GROUP BY lang, bkt
), cstat AS (
  SELECT t.cls, t.n_docs_c, f.tot_c FROM
    (SELECT lang AS cls, COUNT(*) AS n_docs_c
     FROM toks WHERE is_train GROUP BY lang) t
    JOIN
    (SELECT lang AS cls, COUNT(*) AS tot_c
     FROM feats WHERE is_train GROUP BY lang) f USING (cls)
), tstat AS (
  SELECT COUNT(*) AS n_tr, (SELECT COUNT(*) FROM cstat) AS n_cls
  FROM toks WHERE is_train
), escore AS (
  SELECT f.doc_id, c.cls,
         SUM(CAST(round(ln(COALESCE(m.cnt, 0) + 1) * {s}) AS BIGINT))
           AS sq,
         COUNT(*) AS n_feats
  FROM feats f
  CROSS JOIN cstat c
  LEFT JOIN model m ON m.cls = c.cls AND m.bkt = f.bkt
  WHERE NOT f.is_train
  GROUP BY f.doc_id, c.cls
), scored AS (
  SELECT e.doc_id, e.cls,
         CAST(e.sq AS DOUBLE) / {s}
         + ln(c.n_docs_c + 1) - ln(t.n_tr + t.n_cls)
         - e.n_feats * ln(c.tot_c + {b}) AS score
  FROM escore e JOIN cstat c USING (cls) CROSS JOIN tstat t
), pred AS (
  SELECT doc_id, cls, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, cls) AS rk
  FROM scored
)
SELECT d.doc_id, d.lang AS lang_actual, p.cls AS lang_pred,
       CAST(CASE WHEN d.lang = p.cls THEN 1 ELSE 0 END AS BIGINT) AS ok,
       ROUND(p.score, 6) AS score_r
FROM pred p JOIN documents d ON d.doc_id = p.doc_id
WHERE p.rk = 1
"""


@register(
    "docs_nb_classify",
    oracle=_nb_oracle_sql(),
    tags=("pipeline", "classifier", "quality"),
    expose=False,
)
def docs_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive-Bayes language classifier over hashed unigram
    features: closed-form train on the 90% hash-mod slice, argmax
    scoring on the 10% eval slice (doc_id, lang_actual, lang_pred, ok,
    score_r). The model is two broadcast-bounded count tables; the
    per-(doc,class) log-likelihood sums are scaled-integer quantized,
    so prediction and score replay exactly in the SQL oracle."""
    from streamlit_flink_demo_spark.sources.catalog import load_spread

    d = load_spread(spark, sf_dir, "documents", min_bytes=32 << 20).filter(
        F.col("text").isNotNull()
    )
    is_train = u60(F.col("doc_id").cast("string")) % 100 < 90
    docs = d.select("doc_id", "lang", is_train.alias("is_train"), "text")
    feats = track_persist(
        docs.select(
            "doc_id",
            "lang",
            "is_train",
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("g"),
        ).select(
            "doc_id", "lang", "is_train", (u60(F.col("g")) % _NB_B).alias("bkt")
        )
    )
    tr = feats.filter("is_train")
    model = tr.groupBy(F.col("lang").alias("cls"), "bkt").agg(
        F.count("*").alias("cnt")
    )
    cstat = (
        docs.filter("is_train")
        .groupBy(F.col("lang").alias("cls"))
        .agg(F.count("*").alias("n_docs_c"))
        .join(
            tr.groupBy(F.col("lang").alias("cls")).agg(
                F.count("*").alias("tot_c")
            ),
            "cls",
        )
    )
    tstat = docs.filter("is_train").agg(F.count("*").alias("n_tr"))
    ncls = cstat.agg(F.count("*").alias("n_cls"))
    ev = feats.filter(~F.col("is_train"))
    escore = (
        ev.crossJoin(F.broadcast(cstat.select("cls")))
        .join(F.broadcast(model), ["cls", "bkt"], "left")
        .select(
            "doc_id",
            "cls",
            F.round(
                F.ln(F.coalesce(F.col("cnt"), F.lit(0)) + 1) * _DSIR_SCALE
            )
            .cast("bigint")
            .alias("q"),
        )
        .groupBy("doc_id", "cls")
        .agg(F.sum("q").alias("sq"), F.count("*").alias("n_feats"))
    )
    scored = (
        escore.join(F.broadcast(cstat), "cls")
        .crossJoin(F.broadcast(tstat))
        .crossJoin(F.broadcast(ncls))
        .select(
            "doc_id",
            "cls",
            (
                F.col("sq").cast("double") / _DSIR_SCALE
                + F.ln(F.col("n_docs_c") + 1)
                - F.ln(F.col("n_tr") + F.col("n_cls"))
                - F.col("n_feats") * F.ln(F.col("tot_c") + _NB_B)
            ).alias("score"),
        )
    )
    wp = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "cls")
    pred = (
        scored.withColumn("rk", F.row_number().over(wp))
        .filter("rk = 1")
        .select("doc_id", F.col("cls").alias("lang_pred"), "score")
    )
    return pred.join(
        docs.select("doc_id", F.col("lang").alias("lang_actual")), "doc_id"
    ).select(
        "doc_id",
        "lang_actual",
        "lang_pred",
        F.when(F.col("lang_actual") == F.col("lang_pred"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("ok"),
        F.round("score", 6).alias("score_r"),
    )


# --------------------------------------------------------------------------
# Count-min-sketch heavy hitters over the corpus token stream
# --------------------------------------------------------------------------

_CMS_D = 4  # sketch rows (independent hash salts)
_CMS_W = 16  # buckets per row (narrow enough that collisions are real at test vocab)
_CMS_PHI = 100  # report words with estimated frequency >= N/100


def _cms_bucket_sql(r_expr: str, key_expr: str) -> str:
    """DuckDB bucket id for sketch row ``r_expr`` and key ``key_expr``
    (u60 of the salted key, mod W — u60 < 2^60 is non-negative, so
    plain % agrees between engines)."""
    salted = f"('cms' || CAST({r_expr} AS VARCHAR) || ':' || {key_expr})"
    return f"{u60_sql(salted)} % {_CMS_W}"


_CMS_ORACLE = rf"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS wd
  FROM documents WHERE text IS NOT NULL
), words AS (
  SELECT wd, COUNT(*) AS exact_c FROM toks GROUP BY wd
), n AS (
  SELECT SUM(exact_c) AS n_tok FROM words
), rows_ AS (
  SELECT unnest(range({_CMS_D})) AS r
), sk AS (
  SELECT r, {_cms_bucket_sql("r", "wd")} AS b, SUM(exact_c) AS c
  FROM words CROSS JOIN rows_ GROUP BY r, b
), probe AS (
  SELECT w.wd, w.exact_c, MIN(sk.c) AS est_c
  FROM words w CROSS JOIN rows_ rr
  JOIN sk ON sk.r = rr.r AND sk.b = {_cms_bucket_sql("rr.r", "w.wd")}
  GROUP BY w.wd, w.exact_c
)
SELECT wd, CAST(est_c AS BIGINT) AS est_cnt,
       CAST(exact_c AS BIGINT) AS exact_cnt,
       CAST(est_c - exact_c AS BIGINT) AS overcount
FROM probe, n
WHERE est_c * {_CMS_PHI} >= n.n_tok
"""


@register(
    "docs_heavy_hitters",
    oracle=_CMS_ORACLE,
    tags=("pipeline", "approx", "sketch"),
    expose=False,
)
def docs_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over the corpus token stream: the
    frequency-sketch counterpart of the deterministic HLL in
    events_approx_distinct (boilerplate/stopword detection — the pass
    that finds tokens worth special-casing before tokenizer training).
    Sketch: d={_CMS_D} rows x w={_CMS_W} buckets (kept narrow so bucket collisions — the CMS error term — actually occur at test scale), bucket = u60(salted
    md5) % w, estimate = min over rows, report = every word whose
    ESTIMATE reaches N/{_CMS_PHI} tokens (CMS guarantees est >= exact,
    so true heavy hitters are never missed; overcount is surfaced per
    row). Plan: one corpus scan -> token explode -> vocabulary-bounded
    (wd, count) table; the bucket sums fold THAT table (sum of exact
    counts per bucket == streaming CMS by commutativity of +, and the
    map-side partial aggregation of (r, b) pairs is exactly the CMS
    merge property — a pure-streaming deployment sketches raw pairs
    with the identical d*w-bounded state). The d*w-row sketch is
    broadcast to the probe join; totals ride a broadcast 1-row
    crossJoin; integer-only threshold arithmetic (est*phi >= N), no
    float comparison."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    words = track_persist(
        d.select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("wd")
        )
        .groupBy("wd")
        .agg(F.count("*").alias("exact_c"))
    )
    n_tok = F.broadcast(words.agg(F.sum("exact_c").alias("n_tok")))
    rows = F.explode(
        F.array(*[F.lit(r) for r in range(_CMS_D)])
    ).alias("r")
    salted = F.concat(
        F.lit("cms"), F.col("r").cast("string"), F.lit(":"), F.col("wd")
    )
    pairs = words.select("wd", "exact_c", rows).select(
        "wd",
        "exact_c",
        "r",
        (u60(salted) % _CMS_W).alias("b"),
    )
    sk = F.broadcast(
        pairs.groupBy("r", "b").agg(F.sum("exact_c").alias("c"))
    )
    probe = (
        pairs.join(sk, ["r", "b"])
        .groupBy("wd", "exact_c")
        .agg(F.min("c").alias("est_c"))
    )
    return (
        probe.crossJoin(n_tok)
        .filter(F.col("est_c") * _CMS_PHI >= F.col("n_tok"))
        .select(
            "wd",
            F.col("est_c").cast("bigint").alias("est_cnt"),
            F.col("exact_c").cast("bigint").alias("exact_cnt"),
            (F.col("est_c") - F.col("exact_c")).cast("bigint").alias("overcount"),
        )
    )


# --------------------------------------------------------------------------
# Cross-source shingle-overlap matrix (data-mixture design)
# --------------------------------------------------------------------------

_SRC_OVERLAP_ORACLE = """
WITH sh AS (
  SELECT DISTINCT source, s FROM (
    SELECT source,
           lower(t[i+1]) || ' ' || lower(t[i+2]) || ' ' || lower(t[i+3]) AS s
    FROM (
      SELECT source, regexp_extract_all(text, '[A-Za-z0-9]+') AS t
      FROM documents
    ), unnest(range(len(t) - 2)) u(i)
    WHERE len(t) >= 3
  )
),
sizes AS (
  SELECT source, COUNT(*)::BIGINT AS n FROM sh GROUP BY source
),
pairs AS (
  SELECT a.source AS src_a, a.n AS n_a, b.source AS src_b, b.n AS n_b
  FROM sizes a JOIN sizes b ON a.source < b.source
),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*)::BIGINT AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.src_a, p.src_b, p.n_a, p.n_b,
       COALESCE(i.n_common, 0)::BIGINT AS n_common,
       COALESCE(i.n_common, 0) / (p.n_a + p.n_b - COALESCE(i.n_common, 0))::DOUBLE
         AS jaccard
FROM pairs p
LEFT JOIN inter i ON i.src_a = p.src_a AND i.src_b = p.src_b
"""


@register(
    "docs_source_overlap",
    oracle=_SRC_OVERLAP_ORACLE,
    tags=("pipeline", "mixture", "overlap"),
    expose=False,
)
def docs_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise shingle-overlap matrix BETWEEN corpus sources — the
    measurement behind data-mixture design (which sources duplicate
    each other / how much novel text each contributes): for every
    source pair, distinct-3-word-shingle set sizes, intersection, and
    Jaccard. Same shingle rule as ``docs_eval_contamination``.

    Scale shape: one explode + one distinct exchange builds the
    (source, shingle) set; the intersection avoids the shingle
    SELF-JOIN entirely — shingles groupBy into their (few) sources'
    sorted set, pairs expand per shingle (<= S^2 with S = source
    count, a constant), and one small aggregation yields the matrix.
    The complete matrix (zero-overlap pairs included) comes from the
    k-row sizes cross join — driver-free, S^2 rows total."""
    d = load_spread(spark, sf_dir, "documents", min_bytes=32 << 20)
    toks = d.select(
        "source",
        F.expr(split_tokens_expr("text", "^A-Za-z0-9")).alias("t"),
    ).filter(F.size("t") >= 3)
    sh = (
        toks.select(
            "source",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.slice(F.col("t"), 1, F.size("t") - 2),
                        lambda _, i: F.concat_ws(
                            " ",
                            F.lower(F.element_at(F.col("t"), i + 1)),
                            F.lower(F.element_at(F.col("t"), i + 2)),
                            F.lower(F.element_at(F.col("t"), i + 3)),
                        ),
                    )
                )
            ).alias("s"),
        )
        .distinct()
    )
    sh = track_persist(sh)
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    # per-shingle source sets -> ordered pair expansion (no self-join)
    srcs = (
        sh.groupBy("s")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
    )
    inter = (
        srcs.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("srcs"),
                        lambda a, i: F.transform(
                            F.slice(
                                F.col("srcs"),
                                i + 2,
                                F.size(F.col("srcs")) - i - 1,
                            ),
                            lambda b: F.struct(
                                a.alias("src_a"), b.alias("src_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .groupBy("p.src_a", "p.src_b")
        .agg(F.count("*").alias("n_common"))
    )
    a = sizes.select(
        F.col("source").alias("src_a"), F.col("n").alias("n_a")
    )
    b = sizes.select(
        F.col("source").alias("src_b"), F.col("n").alias("n_b")
    )
    pairs = F.broadcast(a).join(
        F.broadcast(b), F.col("src_a") < F.col("src_b")
    )
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    return pairs.join(inter, ["src_a", "src_b"], "left").select(
        "src_a",
        "src_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        nc.cast("bigint").alias("n_common"),
        (nc / (F.col("n_a") + F.col("n_b") - nc).cast("double")).alias(
            "jaccard"
        ),
    )


# --------------------------------------------------------------------------
# CCNet-style perplexity-bucket quality gate (head / middle / tail)
# --------------------------------------------------------------------------
# The signature move of the CCNet pipeline (Wenzek et al. 2020): score
# every document with a corpus LM, split the corpus into perplexity
# TERCILES (head = most fluent), and keep head fully, middle/tail at
# decreasing deterministic rates. The scoring signal is the engine's
# docs_lm_score (bigram avg-NLL, oracle-exact); the tercile is an
# EXACT global NTILE computed WITHOUT a single-task sort — the
# suffix-array family's range-partition + per-partition-offset rank
# primitive (_global_group_rank) assigns every doc its global rank
# with bounded driver state (one count per partition), and the NTILE
# quota formula (first n%k buckets take ceil(n/k)) is applied from two
# collected scalars. The DuckDB oracle uses plain NTILE over the same
# total order, pinning the distributed rank-to-bucket math exactly.
# Keep decisions reuse the hash-uniform sampling discipline (salt
# "ccnet:"), so the whole gate is re-derivable by any engine.

_CCNET_K = 3
_CCNET_SALT = "ccnet:"


def _ccnet_oracle_sql() -> str:
    from streamlit_flink_demo_spark.operators.text import _LM_ORACLE

    keep_h = u60_sql(f"'{_CCNET_SALT}' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH lm AS ({_LM_ORACLE}),
nt AS (
  SELECT doc_id, avg_nll,
         NTILE({_CCNET_K}) OVER (ORDER BY avg_nll, doc_id) AS b
  FROM lm
),
dec AS (
  SELECT doc_id, avg_nll, b,
         CASE WHEN b = 1 THEN TRUE
              WHEN b = 2 THEN ({keep_h} % 2) = 0
              ELSE ({keep_h} % 10) = 0 END AS keep
  FROM nt
)
SELECT CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS bucket,
       COUNT(*)::BIGINT AS n_docs,
       SUM(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       MIN(avg_nll) AS min_nll,
       MAX(avg_nll) AS max_nll,
       SUM(CASE WHEN keep THEN doc_id ELSE 0 END)::BIGINT AS kept_checksum
FROM dec GROUP BY b
"""


@register(
    "docs_ccnet_buckets",
    oracle=_ccnet_oracle_sql(),
    tags=("pipeline", "quality", "lm"),
    expose=False,
)
def docs_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity terciles with deterministic per-bucket
    keep rates (head: 100%, middle: 50%, tail: 10% — hash-uniform,
    salt "ccnet:"). Terciles are an EXACT global NTILE over
    (avg_nll, doc_id) computed distributed: the range-partition +
    offset rank primitive assigns global ranks (no single-task sort;
    driver state = one count per partition + two scalars for the
    NTILE quota), so the gate holds its shape at corpus scale where a
    plain windowed NTILE would serialize. Docs with <2 tokens have no
    LM score and are outside the gate (both engines). Output per
    bucket: doc/kept counts, NLL range, kept-doc checksum."""
    from streamlit_flink_demo_spark.operators.suffix import (
        _global_group_rank,
    )
    from streamlit_flink_demo_spark.operators.text import docs_lm_score

    lm = docs_lm_score(spark, sf_dir).select("doc_id", "avg_nll")
    ranked = _global_group_rank(lm, ["avg_nll", "doc_id"])
    n = ranked.count()
    q, rem = divmod(n, _CCNET_K)
    # NTILE quotas: ranks [0, rem*(q+1)) fill the first `rem` buckets
    # at q+1 rows; the rest fill at q rows.
    cut = rem * (q + 1)
    b = (
        F.when(F.col("rank") < cut, F.floor(F.col("rank") / (q + 1)))
        .otherwise(rem + F.floor((F.col("rank") - cut) / F.greatest(F.lit(q), F.lit(1))))
        .cast("int")
        + 1
    )
    h = u60(F.concat(F.lit(_CCNET_SALT), F.col("doc_id").cast("string")))
    keep = (
        F.when(F.col("b") == 1, F.lit(True))
        .when(F.col("b") == 2, (h % 2) == 0)
        .otherwise((h % 10) == 0)
    )
    dec = ranked.withColumn("b", b).withColumn("keep", keep)
    label = (
        F.when(F.col("b") == 1, "head")
        .when(F.col("b") == 2, "middle")
        .otherwise("tail")
    )
    return dec.groupBy("b").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_kept"),
        F.min("avg_nll").alias("min_nll"),
        F.max("avg_nll").alias("max_nll"),
        F.sum(F.when(F.col("keep"), F.col("doc_id")).otherwise(0))
        .cast("bigint")
        .alias("kept_checksum"),
    ).select(
        label.alias("bucket"),
        "n_docs",
        "n_kept",
        "min_nll",
        "max_nll",
        "kept_checksum",
    )


# --------------------------------------------------------------------------
# Distributed logistic regression (bit-reproducible full-batch GD)
# --------------------------------------------------------------------------
# The quality/language-classifier training loop a data pipeline runs
# over its own corpus (the fasttext-classifier role), expressed as the
# k-means discipline: the MODEL lives on the driver (K+1 doubles), the
# DATA never leaves the executors, one bounded aggregate per GD step.
#
# The twist that makes it oracle-EXACT rather than oracle-approximate:
# per-row gradient contributions are quantized to 1e-6 fixed point
# (BIGINT) before the sum, so the gradient is an exact integer sum —
# independent of partitioning, shuffle order, and engine — and every
# weight update replays bit-for-bit in the DuckDB oracle's unrolled
# CTE chain. Deterministic distributed training is a production
# requirement (reproducible data decisions), not just a test trick;
# the quantization error is folded into the optimization (it is a
# rounded gradient, not a rounded loss). The link function is the
# rational "fast sigmoid" 0.5 + 0.5*z/(1+|z|): same gradient-descent
# shape, but only IEEE +,-,*,/,abs — exactly specified everywhere —
# where exp() may differ by 1 ulp between libm implementations.

_LR_STEPS = 24
_LR_RATE = "16.0"
_LR_Q = "1000000.0"  # fixed-point scale for gradient quantization


def _logreg_feats_sql(spark_dialect: bool) -> str:
    """Shared feature/label fragment. Dialect splits: the token count
    (Spark regexp_count vs DuckDB len(regexp_extract_all)) and the
    regex literal's backslash escaping. Features are centered/scaled
    by CONSTANTS only (never data statistics, which would need their
    own quantized exchange): x1 = centered length, x2 = x1² (the
    quadratic term that lets a linear model carve the length BAND the
    gate uses), x3 = centered space count."""
    ntok = (
        r"regexp_count(text, '\\S+')"
        if spark_dialect
        else r"len(regexp_extract_all(text, '\S+'))"
    )
    hash_mod = (
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10)"
        " AS BIGINT) % 100"
        if spark_dialect
        else f"{u60_sql('CAST(doc_id AS VARCHAR)')} % 100"
    )
    return f"""
  SELECT doc_id,
         CASE WHEN len BETWEEN 100 AND 500 AND ntok >= 20
              THEN 1.0 ELSE 0.0 END AS y,
         1.0 AS x0,
         (CAST(len AS DOUBLE) - 300.0) / 200.0 AS x1,
         ((CAST(len AS DOUBLE) - 300.0) / 200.0)
           * ((CAST(len AS DOUBLE) - 300.0) / 200.0) AS x2,
         (CAST(sp AS DOUBLE) - 30.0) / 30.0 AS x3,
         is_train
  FROM (
    SELECT doc_id,
           length(text) AS len,
           length(text) - length(replace(text, ' ', '')) AS sp,
           {ntok} AS ntok,
           {hash_mod} < 90 AS is_train
    FROM {{src}} WHERE length(text) > 0
  )"""


def _logreg_s_sql(w: tuple[str, str, str, str]) -> str:
    """Fast-sigmoid score text, weights given as SQL fragments (column
    names in the oracle's CTE chain, repr'd double literals on the
    Spark side) — ONE template produces both engines' expression, so
    the arithmetic (and its IEEE evaluation order) cannot drift."""
    z = (
        f"((({w[0]}) * x0 + ({w[1]}) * x1)"
        f" + ({w[2]}) * x2) + ({w[3]}) * x3"
    )
    return f"0.5 + (0.5 * ({z})) / (1.0 + abs({z}))"


def _logreg_gq_sql(s: str, xj: str) -> str:
    """Quantized per-row gradient contribution for feature xj."""
    return f"CAST(FLOOR(((({s}) - y) * {xj}) * {_LR_Q} + 0.5) AS BIGINT)"


def _logreg_oracle() -> str:
    steps = []
    prev = "w0s"
    for k in range(1, _LR_STEPS + 1):
        s = _logreg_s_sql((f"{prev}.w0", f"{prev}.w1", f"{prev}.w2", f"{prev}.w3"))
        gsel = ", ".join(
            f"SUM({_logreg_gq_sql(s, f'x{j}')}) AS g{j}" for j in range(4)
        )
        upd = ", ".join(
            f"{prev}.w{j} - {_LR_RATE} * ((CAST(g{k}s.g{j} AS DOUBLE)"
            f" / CAST(nn.n AS DOUBLE)) / {_LR_Q}) AS w{j}"
            for j in range(4)
        )
        # MATERIALIZED per step: w{k} is referenced ~32× by step k+1
        # (4 gradient sums × the weight refs inside the score), so
        # plain CTE inlining would grow the expression tree ~32× per
        # unrolled step — materializing pins each step to one row.
        steps.append(
            f"g{k}s AS MATERIALIZED (SELECT {gsel} FROM f, {prev}"
            " WHERE is_train),\n"
            f"w{k}s AS MATERIALIZED (SELECT {upd} FROM {prev}, g{k}s, nn)"
        )
        prev = f"w{k}s"
    s_fin = _logreg_s_sql(
        (f"{prev}.w0", f"{prev}.w1", f"{prev}.w2", f"{prev}.w3")
    )
    feats = _logreg_feats_sql(spark_dialect=False).format(src="documents")
    # MATERIALIZED: every unrolled step references f; inlining would
    # re-open the parquet once per reference (EMFILE at _LR_STEPS=24)
    return f"""
WITH f AS MATERIALIZED ({feats}),
nn AS (SELECT COUNT(*) AS n FROM f WHERE is_train),
w0s AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
{",".join(steps)}
SELECT doc_id,
       CASE WHEN is_train THEN 'train' ELSE 'eval' END AS split,
       CAST(y AS BIGINT) AS label,
       CAST(FLOOR((({s_fin}) * {_LR_Q}) + 0.5) AS BIGINT) AS score_q,
       CAST(CASE WHEN ({s_fin}) >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS pred
FROM f, {prev}
"""


@register(
    "docs_logreg_classifier",
    oracle=_logreg_oracle(),
    tags=("pipeline", "ml"),
    expose=False,
)
def docs_logreg_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distill the rule-based quality gate (n_chars BETWEEN 100 AND
    500 AND n_tokens >= 20 — docs_quality_dedup_yield's keep rule)
    into a logistic-regression classifier — the fasttext-distillation
    shape production pipelines run so the gate can be scored without
    the rules. 24 full-batch GD steps over the hash-mod 90% train
    slice; the quadratic length feature lets the linear model carve
    the gate's length band (eval accuracy well above the all-positive
    base rate — pinned in pytest). Distributed-training shape: the
    corpus is scanned once per step into ONE 4-value aggregate
    (gradient sums); driver state is 4 doubles; weights ship back as
    literals in the next step's plan — no row ever reaches the
    driver. Gradient contributions are 1e-6 fixed-point quantized
    BIGINTs, so the sums are exact integers: training is
    bit-reproducible under any partitioning and replays exactly in
    the oracle's unrolled CTE chain (one template generates both
    engines' arithmetic, down to IEEE evaluation order)."""
    d = load_spread(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    d.createOrReplaceTempView("_logreg_docs")
    feats = track_persist(
        spark.sql(
            _logreg_feats_sql(spark_dialect=True).format(src="_logreg_docs")
        )
    )
    tr = feats.filter("is_train")
    n = tr.count()
    w = (0.0, 0.0, 0.0, 0.0)
    for _ in range(_LR_STEPS):
        s = _logreg_s_sql(tuple(repr(v) for v in w))
        grads = tr.select(
            *[
                F.expr(_logreg_gq_sql(s, f"x{j}")).alias(f"g{j}")
                for j in range(4)
            ]
        ).agg(*[F.sum(f"g{j}").alias(f"g{j}") for j in range(4)]).first()
        w = tuple(
            w[j] - 16.0 * ((grads[f"g{j}"] / n) / 1_000_000.0)
            for j in range(4)
        )
    s_fin = _logreg_s_sql(tuple(repr(v) for v in w))
    return feats.select(
        "doc_id",
        F.when(F.col("is_train"), "train").otherwise("eval").alias("split"),
        F.col("y").cast("bigint").alias("label"),
        F.expr(
            f"CAST(FLOOR((({s_fin}) * {_LR_Q}) + 0.5) AS BIGINT)"
        ).alias("score_q"),
        F.expr(
            f"CAST(CASE WHEN ({s_fin}) >= 0.5 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("pred"),
    )


# --------------------------------------------------------------------------
# Token-level n-gram contamination (the GPT-3 appendix-C methodology)
# --------------------------------------------------------------------------
# The char-exact tier (contamination_capsort_exact) answers
# ">=24 shared characters"; the published eval-decontamination recipe
# most labs run is TOKEN-level — GPT-3 flagged eval examples sharing a
# 13-gram (13 consecutive tokens) with training data. Distinct
# semantics (token boundaries absorb whitespace/punctuation
# differences the char tier counts), so both belong in the engine.
# Plan shape: grams are a map-only higher-order projection per doc
# (slice + join + one u60 per gram), the train side reduces to a
# distinct gram-hash set, eval grams hash-join it — never doc×doc.

_NG13 = 13


def _gram13_col() -> F.Column:
    """Array of u60 digests of each 13-token window (engine
    tokenization: lowercase, [^a-z0-9]+ splits)."""
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
        lambda t: t != F.lit(""),
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - _NG13),
        lambda i: u60(F.array_join(F.slice(toks, i + 1, _NG13), " ")),
    )
    # sequence(0, negative) counts DOWN in Spark — guard short docs
    # with an explicit empty array instead.
    return F.when(F.size(toks) >= _NG13, grams).otherwise(
        F.expr("CAST(array() AS array<bigint>)")
    )


_NG13_TOKS_SQL = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
    " t -> t <> '')"
)

_NG13_ORACLE = f"""
WITH g AS (
  SELECT doc_id,
         ({u60_sql("CAST(doc_id AS VARCHAR)")} % 100) < 90 AS is_train,
         unnest(
           list_transform(
             range(0, greatest(len({_NG13_TOKS_SQL}) - {_NG13} + 1, 0)),
             i -> {u60_sql(
                 f"array_to_string(({_NG13_TOKS_SQL})[i+1:i+{_NG13}], ' ')"
             )})) AS h,
         generate_subscripts(
           list_transform(
             range(0, greatest(len({_NG13_TOKS_SQL}) - {_NG13} + 1, 0)),
             i -> i), 1) - 1 AS p
  FROM documents WHERE length(text) > 0
),
train_h AS (
  SELECT DISTINCT h FROM g WHERE is_train
)
SELECT e.doc_id,
       COUNT(*)::BIGINT AS n_grams,
       SUM(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_hits,
       MIN(CASE WHEN t.h IS NOT NULL THEN e.p END)::BIGINT
         AS first_hit_pos,
       (SUM(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END) > 0)
         AS contaminated
FROM g e LEFT JOIN train_h t ON e.h = t.h
WHERE NOT e.is_train
GROUP BY e.doc_id
"""


@register(
    "contamination_ngram13",
    oracle=_NG13_ORACLE,
    tags=("pipeline", "contamination", "ngram"),
    expose=False,
)
def contamination_ngram13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style token-level decontamination screen: an eval doc
    (the 10% hash slice) is contaminated if ANY of its 13-token
    n-grams appears in the train slice. Per eval doc: gram count,
    contaminated-gram count, earliest contaminated position, flag.
    Complements the char-exact suffix tiers — token boundaries make
    this robust to whitespace/punctuation drift that shifts character
    offsets. One map-only gram projection, a distinct train-hash set,
    one hash join; eval docs with fewer than 13 tokens have no grams
    and drop (they cannot be flagged under this rule, matching the
    published methodology)."""
    d = load_spread(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    is_train = (u60(F.col("doc_id").cast("string")) % 100) < 90
    g = d.select(
        "doc_id",
        is_train.alias("is_train"),
        F.posexplode(_gram13_col()).alias("p", "h"),
    )
    train_h = (
        g.filter("is_train").select("h").distinct().withColumnRenamed(
            "h", "th"
        )
    )
    ev = g.filter(~F.col("is_train")).join(
        train_h, F.col("h") == F.col("th"), "left"
    )
    hit = F.col("th").isNotNull()
    return ev.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_grams"),
        F.sum(hit.cast("int")).cast("bigint").alias("n_hits"),
        F.min(F.when(hit, F.col("p"))).cast("bigint").alias(
            "first_hit_pos"
        ),
        (F.sum(hit.cast("int")) > 0).alias("contaminated"),
    )
