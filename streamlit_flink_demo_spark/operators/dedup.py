"""Deduplication operators over the ``documents`` table.

Four families, each designed as shuffle-aware DataFrame compositions
that survive 100 TB:

- exact:       one groupBy on md5(text) — single shuffle of (hash, id).
- minhash+LSH: shingle → K minhashes → band keys → bucket self-join.
  Candidate generation never compares all pairs: cost is bounded by
  bucket sizes, and a document-frequency cap on shingles prevents
  degenerate buckets (standard anti-skew guard).
- simhash:     token-hash bit voting → one 32-bit signature per doc;
  one explode + one groupBy.
- n-gram Jaccard: inverted index on 3-word shingles, exact Jaccard via
  |∩| counts — never materializes token sets pairwise.

Every hash is md5-derived (functions/hashing.py) so the DuckDB oracle
reproduces values bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamlit_flink_demo_spark.functions.hashing import u60, u60_sql
from streamlit_flink_demo_spark.functions.ngrams import split_tokens_expr
from streamlit_flink_demo_spark.plans import register, track_persist
from streamlit_flink_demo_spark.sources.catalog import load_spread, load_table

# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
    tags=("dedup",),
    expose=False,  # exposed via dedup_family_suite
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content digest; keeper = min id.
    Shuffles only (hash, doc_id) — the text never crosses the wire."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


# --------------------------------------------------------------------------
# Shared shingle machinery (3-word shingles)
# --------------------------------------------------------------------------

# Spark-side: tokens → 3-gram shingles (distinct per doc).
_SHINGLES_EXPR = (
    "array_distinct(transform(sequence(1, size(toks) - 2), "
    "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i+1), "
    "element_at(toks, i+2))))"
)

# DuckDB-side CTE producing the identical (doc_id, shingle) pairs.
_SH_CTE = r"""
toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest([t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                 for i in range(len(t) - 2)]) AS s
  FROM toks WHERE len(t) >= 3
)
"""

# Hashed variant: downstream operators join/aggregate on the 60-bit
# shingle hash, never the string — joins shuffle 8-byte keys instead of
# ~20-40 byte strings, and md5 runs once per (doc, shingle).
_SHH_CTE = _SH_CTE + f""",
shh AS (
  SELECT doc_id, {{u60_s}} AS h FROM sh
)
""".format(u60_s=u60_sql("s"))


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s): distinct 3-word shingles. Narrow transform + explode.

    spread(): the tokenize→shingle→hash kernel is the expensive part
    of every shingle-family operator; without it the kernel inherits
    the scan's (possibly 1-task) parallelism."""
    d = load_spread(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.expr(split_tokens_expr("lower(text)")).alias("toks"),
        )
        .filter(F.size("toks") >= 3)
        .select("doc_id", F.explode(F.expr(_SHINGLES_EXPR)).alias("s"))
    )


def _doc_shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h): 60-bit shingle hashes — the compact frame minhash
    and jaccard actually consume (see _SHH_CTE note).

    NOT persisted: after the window-function rewrite of
    dedup_ngram_jaccard, every consumer reads this frame exactly once
    (minhash: one groupBy; jaccard: one withColumn chain; incremental:
    one groupBy) — the multiply-referenced frames downstream (minh,
    sh_kept) carry their own track_persist. Caching here was pure
    materialization overhead paid on every run for zero reuse."""
    return _doc_shingles(spark, sf_dir).select(
        "doc_id", u60(F.col("s")).alias("h")
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

_K = 16  # minhash functions
_BANDS = 4  # 4 bands × 4 rows
_ROWS = _K // _BANDS

# One md5 per shingle, then K affine hashes h_i = (A_i·x + B_i) mod P
# (P Mersenne-prime 2^31-1 keeps every product < 2^62: no 64-bit
# overflow in either engine). 16× cheaper than K independent md5s and
# still bit-identical across Spark/DuckDB. Constants are md5-derived at
# import time and baked into both expression texts as literals.
_P = 2_147_483_647


def _affine_const(tag: str, i: int, mod: int) -> int:
    import hashlib

    return int(hashlib.md5(f"minhash-{tag}-{i}".encode()).hexdigest()[:15], 16) % mod


_A = [_affine_const("a", i, _P - 1) + 1 for i in range(_K)]
_B = [_affine_const("b", i, _P) for i in range(_K)]

_minh_cols_sql = ",\n    ".join(
    f"MIN(({_A[i]} * (h % {_P}) + {_B[i]}) % {_P}) AS h{i}" for i in range(_K)
)
_band_keys_sql = ",\n     ".join(
    "'"
    + str(j)
    + ":' || "
    + " || ',' || ".join(f"h{j * _ROWS + r}::VARCHAR" for r in range(_ROWS))
    for j in range(_BANDS)
)
_eq_sum_sql = " + ".join(
    f"(CASE WHEN ma.h{i} = mb.h{i} THEN 1 ELSE 0 END)" for i in range(_K)
)

_MINHASH_ORACLE = f"""
WITH {_SHH_CTE},
minh AS (
  SELECT doc_id,
    {_minh_cols_sql}
  FROM shh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, unnest([
     {_band_keys_sql}
  ]) AS band_key FROM minh
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       ({_eq_sum_sql}) / {float(_K)!r} AS est_jaccard
FROM pairs
JOIN minh ma ON doc_a = ma.doc_id
JOIN minh mb ON doc_b = mb.doc_id
WHERE ({_eq_sum_sql}) / {float(_K)!r} >= 0.5
"""


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h{K-1}) MinHash signatures for ANY (doc_id, text)
    frame — batch tables and streaming micro-batches alike (the
    streaming ingest-dedup path, streaming/dedup_ingest.py, signs each
    arriving batch with exactly this pipeline, so its flags are
    bit-comparable to the batch operators'). No persist here: the
    caller owns caching."""
    sh = (
        docs.select(
            "doc_id",
            F.expr(split_tokens_expr("lower(text)")).alias(
                "toks"
            ),
        )
        .filter(F.size("toks") >= 3)
        .select("doc_id", F.explode(F.expr(_SHINGLES_EXPR)).alias("s"))
        .select("doc_id", u60(F.col("s")).alias("h"))
    )
    base = F.col("h") % F.lit(_P)
    return sh.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(_A[i]) * base + F.lit(_B[i])) % F.lit(_P)
            ).alias(f"h{i}")
            for i in range(_K)
        ]
    )


def _minhash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h0..h{K-1}): the persisted MinHash signature frame —
    ONE definition shared by dedup_minhash_lsh and dedup_incremental
    (which probes the same index layout); a banding/hash change edits
    exactly one place. Delegates the signature math to
    minhash_signatures (shared with the streaming ingest path); keeps
    the spread + persist policy of the batch operators."""
    return track_persist(
        minhash_signatures(load_spread(spark, sf_dir, "documents"))
    )


def _band_keys_col() -> F.Column:
    """Array of the {BANDS} LSH band keys ('<band>:h,h,...') over the
    signature columns — the bucket key of build_dup_sig_index's layout."""
    return F.array(
        *[
            F.concat_ws(
                ",",
                F.concat(
                    F.lit(f"{j}:"), F.col(f"h{j * _ROWS}").cast("string")
                ),
                *[
                    F.col(f"h{j * _ROWS + r}").cast("string")
                    for r in range(1, _ROWS)
                ],
            )
            for j in range(_BANDS)
        ]
    )


def _minhash_eq_sum(a: str = "ma", b: str = "mb") -> F.Column:
    """Count of agreeing minhash components between two aliased
    signature frames (the est_jaccard numerator)."""
    return sum(
        F.when(F.col(f"{a}.h{i}") == F.col(f"{b}.h{i}"), 1).otherwise(0)
        for i in range(_K)
    )


@register("dedup_minhash_lsh", oracle=_MINHASH_ORACLE, tags=("dedup", "lsh"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(K=16) + LSH(4 bands × 4): near-dup candidate pairs with
    estimated Jaccard ≥ 0.5.

    Scale path: shingle explode is narrow; the K minhashes are one
    groupBy(doc_id) with K MIN aggregates (map-side partial); LSH
    banding turns pair discovery into an equi-join on band keys —
    never O(n²). The band self-join is the only quadratic risk and
    only within identical-signature buckets (true near-dups)."""
    minh = _minhash_frame(spark, sf_dir)
    bands = minh.select("doc_id", F.explode(_band_keys_col()).alias("band_key"))
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ma = minh.alias("ma")
    mb = minh.alias("mb")
    eq_sum = _minhash_eq_sum()
    return (
        pairs.join(ma, F.col("doc_a") == F.col("ma.doc_id"))
        .join(mb, F.col("doc_b") == F.col("mb.doc_id"))
        .select(
            "doc_a", "doc_b", (eq_sum / F.lit(float(_K))).alias("est_jaccard")
        )
        .filter(F.col("est_jaccard") >= 0.5)
    )


# --------------------------------------------------------------------------
# SimHash (32-bit signatures)
# --------------------------------------------------------------------------

_BITS = 32

_bit_sums_sql = ",\n    ".join(
    f"SUM(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(_BITS)
)
_sig_sql = " + ".join(
    f"(CASE WHEN s{b} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(_BITS)
)

_SIMHASH_ORACLE = rf"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS w
  FROM documents
),
th AS (
  SELECT doc_id, {u60_sql('w')} AS th FROM tok
),
votes AS (
  SELECT doc_id,
    {_bit_sums_sql}
  FROM th GROUP BY doc_id
)
SELECT doc_id, ({_sig_sql})::BIGINT AS simhash FROM votes
"""


@register(
    "dedup_simhash",
    oracle=_SIMHASH_ORACLE,
    tags=("dedup", "simhash"),
    expose=False,  # exposed via dedup_family_suite
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: per-token 60-bit hash votes on 32 signature bits.
    One explode + one groupBy(doc_id) with 32 bit-count sums (all
    map-side combinable). Near-dup docs differ in few bits; pairing by
    hamming distance is a band-join away (see dedup_minhash_lsh).
    spread(): the tokenize+hash explode is the heavy kernel.

    r13 (guide §1.2 per-task work): the ±1 vote sum per bit is
    replaced by a plain ones count — with n tokens in the group,
    vote_b = 2*ones_b - n, so vote_b >= 0 ⟺ 2*ones_b >= n. Each of
    the 32 per-row aggregate expressions drops its when/otherwise
    branch (shift+and only), measured ~13% off the aggregation;
    bit-identical signatures."""
    d = load_spread(spark, sf_dir, "documents")
    tok = (
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(split_tokens_expr("lower(text)"))
                )
            ).alias("w"),
        )
        .select("doc_id", u60(F.col("w")).alias("th"))
    )
    votes = tok.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1))).alias(
                f"o{b}"
            )
            for b in range(_BITS)
        ],
    )
    sig = sum(
        F.when(F.col(f"o{b}") * 2 >= F.col("n"), F.lit(1 << b)).otherwise(
            F.lit(0)
        )
        for b in range(_BITS)
    )
    return votes.select("doc_id", sig.cast("bigint").alias("simhash"))


# --------------------------------------------------------------------------
# N-gram (3-word shingle) exact Jaccard via inverted index
# --------------------------------------------------------------------------

_JACCARD_ORACLE = f"""
WITH {_SHH_CTE},
df AS (
  SELECT h, COUNT(*) AS doc_freq FROM shh GROUP BY h
),
sh_kept AS (
  SELECT shh.doc_id, shh.h FROM shh JOIN df USING (h) WHERE df.doc_freq <= 50
),
sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh_kept GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM sh_kept a JOIN sh_kept b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       i / (na.n + nb.n - i)::DOUBLE AS jaccard_sim
FROM inter
JOIN sizes na ON doc_a = na.doc_id
JOIN sizes nb ON doc_b = nb.doc_id
WHERE i / (na.n + nb.n - i)::DOUBLE >= 0.3
"""


@register(
    "dedup_ngram_jaccard",
    oracle=_JACCARD_ORACLE,
    tags=("dedup", "jaccard"),
    expose=False,  # exposed via dedup_family_suite
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-word-shingle Jaccard ≥ 0.3 via inverted index:
    |A∩B| from a self-equi-join on shingle, |A∪B| = |A|+|B|-|A∩B|.
    The doc-frequency cap (≤50) drops stop-shingles that would create
    quadratic buckets — the standard guard that keeps this join bounded
    at 100 TB (and it's part of the operator's contract, mirrored in
    the oracle)."""
    from pyspark.sql.window import Window as W

    sh = _doc_shingle_hashes(spark, sf_dir)
    # df-cap as a COUNT window over h: one shuffle on h replaces the
    # groupBy + join-back formulation (same partitioning, half the
    # exchanges — measured 1.3 s → 0.9 s at sf0.1).
    sh_kept = track_persist(
        sh.withColumn("doc_freq", F.count("*").over(W.partitionBy("h")))
        .filter(F.col("doc_freq") <= 50)
        .select("doc_id", "h")
    )
    sizes = sh_kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh_kept.alias("a")
    b = sh_kept.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("i"))
    )
    na = sizes.alias("na")
    nb = sizes.alias("nb")
    jac = F.col("i") / (F.col("na.n") + F.col("nb.n") - F.col("i")).cast("double")
    return (
        inter.join(na, F.col("doc_a") == F.col("na.doc_id"))
        .join(nb, F.col("doc_b") == F.col("nb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard_sim"))
        .filter(F.col("jaccard_sim") >= 0.3)
    )


# --------------------------------------------------------------------------
# Connected-component duplicate clusters (graph closure over LSH pairs)
# --------------------------------------------------------------------------
#
# Pairwise near-dup detection is not enough for a training corpus: if
# A~B and B~C, keeping "one of each pair" can still keep two copies of
# the same underlying document. The production operation is CLUSTERING
# — connected components over the near-dup pair graph, keep one
# canonical doc per component.
#
# Scale design: iterative min-label propagation with POINTER JUMPING
# (each round: edge relaxation, then label-of-label contraction), the
# classic O(log n)-round MapReduce connected-components scheme
# (Kiveris et al., "Connected Components in MapReduce and Beyond").
# Every round is a constant number of hash shuffles on (id) — no
# driver-side graph, no quadratic step; intermediate labels are
# persisted per round and the previous round unpersisted, so lineage
# stays O(1) deep. Convergence is detected with a 1-row aggregate
# (labels are monotonically non-increasing, so an unchanged SUM(lbl)
# is a fixpoint proof — no join-diff needed).

_CLUSTERS_ORACLE = f"""
WITH RECURSIVE mh AS (
{_MINHASH_ORACLE}
),
verts AS (
  SELECT doc_id FROM documents
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM mh
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM mh
),
reach AS (
  SELECT doc_id, doc_id AS lbl FROM verts
  UNION
  SELECT e.dst AS doc_id, r.lbl
  FROM reach r JOIN edges e ON e.src = r.doc_id
)
SELECT doc_id,
       MIN(lbl) AS cluster_id,
       (doc_id = MIN(lbl)) AS is_canonical
FROM reach
GROUP BY doc_id
"""


@register(
    "dedup_connected_clusters",
    oracle=_CLUSTERS_ORACLE,
    tags=("dedup", "graph", "iterative"),
)
def dedup_connected_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: transitive closure of the MinHash-LSH
    near-dup pairs (est_jaccard >= 0.5), labeled by the minimum doc_id
    of each component; ``is_canonical`` marks the one doc to keep.
    Every doc appears (singletons are their own cluster).

    The pair graph is deterministic (md5-derived minhashes), and
    min-label closure is order-independent — the DuckDB oracle replays
    it with a recursive CTE, so this iterative distributed algorithm
    is still hash-checked end to end."""
    from streamlit_flink_demo_spark.plans import REGISTRY

    pairs = REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # one explode instead of union-of-two-selects: the union form
    # planned (and executed) the whole minhash-LSH pairs subtree once
    # per branch (r13 optimization — same fix as suffix._credit_both).
    edges = track_persist(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"),
                        F.col("doc_b").alias("dst"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"),
                        F.col("doc_a").alias("dst"),
                    ),
                )
            ).alias("e")
        ).select("e.src", "e.dst")
    )
    # Loop frames use BARE persist and are unpersisted as the loop
    # advances; only edges and the FINAL labels frame are
    # sink-tracked (track_persist) for cache-hit re-dispatch. Tracking
    # every round would re-persist O(rounds) dead intermediate frames
    # after the harness's clearCache() — undoing the loop's
    # keep-memory-O(1) unpersist design. The final frame is where the
    # cached plan's lineage stops, so re-persisting it alone restores
    # re-execution speed; the one-time recompute of the loop lineage
    # after a clearCache is bounded by the converged round count.
    labels = docs.select("doc_id", F.col("doc_id").alias("lbl")).persist()
    prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    prev = labels
    # log2(n) rounds suffice with pointer jumping; the cap is a
    # safety net, convergence normally exits in 2-3 rounds for
    # near-dup graphs (tiny components).
    for _ in range(32):
        nbr_min = (
            edges.join(labels, edges["src"] == labels["doc_id"])
            .groupBy("dst")
            .agg(F.min("lbl").alias("nlbl"))
        )
        relaxed = (
            labels.join(nbr_min, labels["doc_id"] == nbr_min["dst"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
            )
        )
        # pointer jump: follow my label's label (label ids are doc ids,
        # so the self-join below always finds the row)
        lab2 = relaxed.select(
            F.col("doc_id").alias("d2"), F.col("lbl").alias("l2")
        )
        jumped = (
            relaxed.join(lab2, relaxed["lbl"] == lab2["d2"])
            .select(
                "doc_id", F.least(F.col("lbl"), F.col("l2")).alias("lbl")
            )
            .persist()
        )
        new_sum = jumped.agg(F.sum("lbl")).collect()[0][0]
        prev.unpersist()
        prev = labels = jumped
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    track_persist(labels)  # final frame only: see the loop comment
    return labels.select(
        "doc_id",
        F.col("lbl").alias("cluster_id"),
        (F.col("doc_id") == F.col("lbl")).alias("is_canonical"),
    )


# --------------------------------------------------------------------------
# Passage-level exact dedup (span granularity)
# --------------------------------------------------------------------------

_PASSAGE_W = 10  # words per passage


@register(
    "dedup_passages",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t FROM documents
),
chunks AS (
  -- per-doc chunk enumeration via unnest(range(...)) on THIS doc's
  -- length (a fixed range cap would silently under-enumerate docs
  -- with more chunks than the cap, breaking parity at larger scale)
  SELECT doc_id, k AS pos,
         {u60_sql("array_to_string(t[k*" + str(_PASSAGE_W) + "+1 : (k+1)*" + str(_PASSAGE_W) + "], ' ')")} AS h
  FROM (
    SELECT doc_id, t, unnest(range(0, len(t) // {_PASSAGE_W})) AS k
    FROM toks
  )
),
rep AS (
  SELECT h,
         COUNT(*) AS n_occurrences,
         COUNT(DISTINCT doc_id) AS n_docs,
         MIN(doc_id) AS keeper_doc_id
  FROM chunks GROUP BY h
)
SELECT h AS passage_hash, n_occurrences, n_docs, keeper_doc_id
FROM rep WHERE n_occurrences > 1
""",
    tags=("dedup", "span"),
    expose=False,
)
def dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup at fixed passage granularity: documents
    split into consecutive {W}-word chunks; chunks repeated anywhere in
    the corpus surface with their occurrence/document counts and the
    keeper (minimum doc id). This is the cheap tier of substring dedup
    (the expensive tier being suffix-automaton spans): one narrow
    tokenize+chunk+hash kernel, one groupBy on the 8-byte chunk hash —
    passage text never shuffles. At 100 TB the groupBy is the only
    exchange and carries (hash, doc_id) pairs."""
    d = load_spread(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.expr(split_tokens_expr("lower(text)")).alias("t"),
    )
    w = _PASSAGE_W
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(t) div {w} - 1), "
                f"k -> concat_ws(' ', slice(t, k * {w} + 1, {w})))"
            )
        ).alias("passage"),
    ).filter(F.expr(f"size(t) >= {w}"))
    return (
        chunks.select("doc_id", u60(F.col("passage")).alias("passage_hash"))
        .groupBy("passage_hash")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_occurrences") > 1)
    )


# --------------------------------------------------------------------------
# Duplicated-substring spans (the expensive tier of substring dedup)
# --------------------------------------------------------------------------
#
# dedup_passages is the cheap tier: fixed non-overlapping chunks, so a
# duplicated run that straddles a chunk boundary is missed and span
# extents are chunk-quantized. The production complement (the
# suffix-array "exact substring dedup" used for C4/RefinedWeb-style
# corpora) reports every MAXIMAL duplicated token span of length >= L.
#
# Spark-first formulation instead of a literal distributed suffix
# array: a token span of length >= L is duplicated iff every one of
# its rolling L-token windows occurs elsewhere in the corpus — the
# same reduction the suffix-array pipeline applies (adjacent-suffix
# common prefixes >= L <=> repeated L-windows), expressed as
#   1. explode rolling L-window hashes (8 bytes each; window TEXT
#      never leaves the doc's partition),
#   2. COUNT(*) OVER (PARTITION BY h) — one exchange on h marks
#      duplicated windows (window-fn form: half the exchanges of
#      groupBy+join-back, same trick as dedup_ngram_jaccard),
#   3. gaps-and-islands per doc merges adjacent duplicated window
#      starts into maximal spans — one exchange on doc_id; the final
#      (doc_id, grp) groupBy reuses that partitioning (no 3rd
#      shuffle, plan-asserted in tests/test_plans.py).
#
# At 100 TB: exchanges carry only (doc_id, pos, h) = ~20 B/token, and
# the h-exchange is the sole corpus-wide shuffle. Hot windows
# (boilerplate) skew the h partitioning — AQE skew-split handles the
# count window; they are *kept* (they mark genuinely duplicated text).

_SPAN_W = 8  # window length in tokens; reported spans are >= this


# Shared CTE pipeline for the span family (substring spans + rewrite):
# the oracle replays the exact Spark pipeline — rolling window hashes,
# count-window duplication marking, gaps-and-islands span merge.
_SPAN_CTES = f"""
toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t FROM documents
),
wins AS (
  SELECT doc_id, k AS pos,
         {u60_sql("array_to_string(t[k+1 : k+" + str(_SPAN_W) + "], ' ')")} AS h
  FROM (
    SELECT doc_id, t, unnest(range(0, len(t) - {_SPAN_W} + 1)) AS k
    FROM toks WHERE len(t) >= {_SPAN_W}
  )
),
marked AS (
  SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS n FROM wins
),
dup AS (
  SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM marked WHERE n > 1
),
isl AS (
  -- coverage islands: window at pos covers [pos, pos+W-1]; a new
  -- island starts only when the previous duplicated window's coverage
  -- ends strictly before this one begins (gap > W). Start-adjacency
  -- (pos - prev == 1) is NOT enough: starts 0 and 2 with W=8 produce
  -- overlapping coverage, and overlapping "maximal" spans would
  -- double-count tokens in the rewrite's accounting.
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > {_SPAN_W}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS grp
  FROM dup
),
spans AS (
  SELECT doc_id,
         MIN(pos)::BIGINT AS span_start,
         (MAX(pos) + {_SPAN_W} - 1)::BIGINT AS span_end,
         (MAX(pos) - MIN(pos) + {_SPAN_W})::BIGINT AS span_tokens,
         COUNT(*)::BIGINT AS n_windows
  FROM isl GROUP BY doc_id, grp
)
"""


def _duplicated_spans(spark: SparkSession, sf_dir: str):
    """Shared span pipeline: (toks_all, spans) where toks_all is every
    doc's token array and spans are the maximal duplicated-coverage
    regions (see dedup_substring_spans for the plan shape)."""
    d = load_spread(spark, sf_dir, "documents")
    toks_all = d.select(
        "doc_id",
        F.expr(split_tokens_expr("lower(text)")).alias("t"),
    )
    return toks_all, duplicated_spans_over(toks_all)


def duplicated_spans_over(toks_all: DataFrame) -> DataFrame:
    """Span pipeline over a (doc_id, t) token-array frame — separated
    from the table load so synthetic corpora can drive edge-case tests
    (e.g. the overlapping-coverage counterexample)."""
    from pyspark.sql.window import Window as W

    w = _SPAN_W
    toks = toks_all.filter(F.expr(f"size(t) >= {w}"))
    wins = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(t) - {w}), "
                f"k -> concat_ws(' ', slice(t, k + 1, {w})))"
            )
        ).alias("pos", "win"),
    ).select("doc_id", "pos", u60(F.col("win")).alias("h"))
    marked = wins.withColumn("n", F.count("*").over(W.partitionBy("h")))
    # Coverage islands (NOT start-adjacency): window at pos covers
    # [pos, pos+W-1], so islands break only when the gap between
    # consecutive duplicated starts exceeds W — start-adjacency
    # grouping (pos - row_number) emits OVERLAPPING spans for starts
    # 2..W-1 apart, which double-counts tokens in the rewrite.
    byd = W.partitionBy("doc_id").orderBy("pos")
    dup = (
        marked.filter(F.col("n") > 1)
        .withColumn("prev", F.lag("pos").over(byd))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > w),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("grp", F.sum("brk").over(byd.rowsBetween(W.unboundedPreceding, 0)))
    )
    spans = (
        dup.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + w - 1).cast("bigint").alias("span_end"),
            (F.max("pos") - F.min("pos") + w).cast("bigint").alias(
                "span_tokens"
            ),
            F.count("*").alias("n_windows"),
        )
        .drop("grp")
    )
    return spans


@register(
    "dedup_substring_spans",
    oracle=f"""
WITH {_SPAN_CTES}
SELECT doc_id, span_start, span_end, span_tokens, n_windows FROM spans
""",
    tags=("dedup", "span"),
    expose=False,  # exposed via dedup_family_suite
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-coverage regions (>= {W} tokens) per
    document: every rolling {W}-token window hash that occurs more
    than once in the corpus marks its start; marked starts whose
    coverage intervals [pos, pos+W-1] touch or overlap (gap <= W)
    merge into one region, so every token in [span_start, span_end]
    belongs to at least one duplicated {W}-window and regions are
    guaranteed DISJOINT per doc. (A region is duplicated coverage, not
    necessarily one verbatim substring — two overlapping runs
    duplicated against different sources merge; the rewrite pass only
    ever removes regions whose full content matches verbatim
    elsewhere, so merging is conservative.) Extents are token offsets,
    inclusive, ready for dedup_span_rewrite."""
    _, spans = _duplicated_spans(spark, sf_dir)
    return spans


@register(
    "dedup_span_rewrite",
    oracle=f"""
WITH {_SPAN_CTES},
content AS (
  SELECT s.doc_id, span_start, span_end, span_tokens,
         {u60_sql("array_to_string(t[span_start+1 : span_end+1], ' ')")} AS chash
  FROM spans s JOIN toks USING (doc_id)
),
removed AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY chash ORDER BY doc_id, span_start
    ) AS rk FROM content
  ) WHERE rk > 1
),
ranges AS (
  SELECT doc_id,
         COUNT(*)::BIGINT AS n_spans_removed,
         SUM(span_tokens)::BIGINT AS tokens_removed
  FROM removed GROUP BY doc_id
),
rem_pos AS (
  SELECT doc_id, unnest(range(span_start, span_end + 1)) AS pos FROM removed
),
pos AS (
  SELECT doc_id, k AS pos, t[k + 1] AS tok
  FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS k FROM toks)
),
kept AS (
  SELECT p.doc_id, p.pos, p.tok FROM pos p
  ANTI JOIN rem_pos r ON p.doc_id = r.doc_id AND p.pos = r.pos
),
clean AS (
  SELECT doc_id, COUNT(*)::BIGINT AS clean_tokens,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       len(t.t)::BIGINT AS orig_tokens,
       coalesce(c.clean_tokens, 0)::BIGINT AS clean_tokens,
       coalesce(r.n_spans_removed, 0)::BIGINT AS n_spans_removed,
       coalesce(r.tokens_removed, 0)::BIGINT AS tokens_removed,
       coalesce(c.clean_md5, md5('')) AS clean_md5
FROM toks t
LEFT JOIN clean c ON t.doc_id = c.doc_id
LEFT JOIN ranges r ON t.doc_id = r.doc_id
""",
    tags=("dedup", "span"),
    # un-exposed round 11: the driver slot now goes to
    # span_rewrite_suite (the EXACT gram-group tier,
    # plans/suites.py), which strictly subsumes this approximate
    # token-window form; still oracle-checked per round by
    # tests/test_oracle_parity.py.
    expose=False,
)
def dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rewrite for exact duplicated spans — the cleanup pass
    C4/RefinedWeb-style pipelines run after span detection: among all
    occurrences of an IDENTICAL maximal span (same token content, keyed
    by content hash), the first in corpus order (min doc_id, then min
    span_start) is kept; every other occurrence is cut from its
    document. Returns per-doc accounting plus the md5 of the cleaned
    token stream (the rewrite surface is a hash, not the text — the
    text-producing variant is the same plan minus the md5).

    Spans whose content matches nothing else verbatim (maximality can
    differ between docs sharing a shorter run) are kept — removal only
    ever fires on exact duplicates, so the pass is idempotent and never
    invents novel token adjacencies beyond span-boundary seams.

    Scale notes: span ranges per doc are aggregated into an array and
    joined back to the token arrays on doc_id — the ONLY exchange that
    carries text, and it is inherent (a rewrite must move the text
    once); the cut itself is a JVM higher-order ``filter`` with a
    positional lambda over the ranges array (no explode of the corpus
    into per-token rows, no Python). The oracle replays the cut via
    explode + anti-join, a formulation DuckDB prefers; both reduce to
    the same kept-token stream."""
    toks_all, spans = _duplicated_spans(spark, sf_dir)
    from pyspark.sql.window import Window as W

    content = (
        spans.join(toks_all, "doc_id")
        .withColumn(
            "chash",
            u60(
                F.expr(
                    "concat_ws(' ', "
                    "slice(t, cast(span_start + 1 as int), "
                    "cast(span_tokens as int)))"
                )
            ),
        )
        .select("doc_id", "span_start", "span_end", "span_tokens", "chash")
    )
    removed = (
        content.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("chash").orderBy("doc_id", "span_start")
            ),
        )
        .filter(F.col("rk") > 1)
    )
    ranges = removed.groupBy("doc_id").agg(
        F.count("*").alias("n_spans_removed"),
        F.sum("span_tokens").alias("tokens_removed"),
        F.collect_list(F.struct("span_start", "span_end")).alias("rs"),
    )
    out = (
        toks_all.join(ranges, "doc_id", "left")
        .withColumn(
            "clean_t",
            F.expr(
                "filter(t, (tok, i) -> rs IS NULL OR NOT exists(rs, "
                "r -> i >= r.span_start AND i <= r.span_end))"
            ),
        )
        .select(
            "doc_id",
            F.size("t").cast("bigint").alias("orig_tokens"),
            F.size("clean_t").cast("bigint").alias("clean_tokens"),
            F.coalesce(F.col("n_spans_removed"), F.lit(0))
            .cast("bigint")
            .alias("n_spans_removed"),
            F.coalesce(F.col("tokens_removed"), F.lit(0))
            .cast("bigint")
            .alias("tokens_removed"),
            F.md5(F.concat_ws(" ", "clean_t")).alias("clean_md5"),
        )
    )
    return out


# --------------------------------------------------------------------------
# Incremental dedup: new batch probed against the existing corpus
# --------------------------------------------------------------------------

# Same hash-mod split as docs_train_eval_split: bucket >= 90 plays the
# "newly ingested batch", bucket < 90 the existing corpus.
_NEW_BUCKET_SQL = f"({u60_sql('CAST(doc_id AS VARCHAR)')} % 100)"


@register(
    "dedup_incremental",
    oracle=f"""
WITH {{shh}},
minh AS (
  SELECT doc_id,
    {_minh_cols_sql}
  FROM shh GROUP BY doc_id
),
tagged AS (
  SELECT *, ({_NEW_BUCKET_SQL} >= 90) AS is_new FROM minh
),
bands AS (
  SELECT doc_id, is_new, unnest([
     {_band_keys_sql}
  ]) AS band_key FROM tagged
),
cand AS (
  SELECT DISTINCT n.doc_id AS new_doc, o.doc_id AS old_doc
  FROM bands n JOIN bands o
    ON n.band_key = o.band_key AND n.is_new AND NOT o.is_new
),
verified AS (
  SELECT new_doc, old_doc,
         ({_eq_sum_sql}) / {float(_K)!r} AS est_jaccard
  FROM cand
  JOIN tagged ma ON new_doc = ma.doc_id
  JOIN tagged mb ON old_doc = mb.doc_id
  WHERE ({_eq_sum_sql}) / {float(_K)!r} >= 0.5
),
best AS (
  SELECT new_doc, old_doc, est_jaccard,
         ROW_NUMBER() OVER (PARTITION BY new_doc
                            ORDER BY est_jaccard DESC, old_doc) AS rk
  FROM verified
)
SELECT new_doc AS doc_id, old_doc AS dup_of, est_jaccard
FROM best WHERE rk = 1
""".replace("{shh}", _SHH_CTE.strip()),
    tags=("dedup", "incremental"),
    expose=False,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: the newly-arrived batch (hash
    bucket >= 90, ~10% of docs) is probed against the EXISTING corpus
    (bucket < 90) — each new doc that near-duplicates (MinHash
    est_jaccard >= 0.5) any corpus doc reports its best match. The
    asymmetric band join (new side tiny, corpus side the prebuilt
    index) is the production shape: per-ingest cost scales with the
    BATCH, not the corpus — at 100 TB the corpus band keys are a
    static bucketed artifact (same layout as build_dup_sig_index) and
    the new batch's bands broadcast."""
    minh = _minhash_frame(spark, sf_dir)
    is_new = (
        u60(F.col("doc_id").cast("string")) % 100 >= 90
    )
    tagged = minh.withColumn("is_new", is_new)
    bands = tagged.select(
        "doc_id", "is_new", F.explode(_band_keys_col()).alias("band_key")
    )
    new_b = bands.filter(F.col("is_new")).select(
        F.col("doc_id").alias("new_doc"), "band_key"
    )
    old_b = bands.filter(~F.col("is_new")).select(
        F.col("doc_id").alias("old_doc"), "band_key"
    )
    cand = (
        F.broadcast(new_b)
        .join(old_b, "band_key")
        .select("new_doc", "old_doc")
        .distinct()
    )
    ma = tagged.alias("ma")
    mb = tagged.alias("mb")
    eq_sum = _minhash_eq_sum()
    verified = (
        cand.join(ma, F.col("new_doc") == F.col("ma.doc_id"))
        .join(mb, F.col("old_doc") == F.col("mb.doc_id"))
        .select(
            "new_doc",
            "old_doc",
            (eq_sum / F.lit(float(_K))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= 0.5)
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("new_doc").orderBy(
            F.col("est_jaccard").desc(), F.col("old_doc")
        )
    )
    return (
        verified.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            F.col("new_doc").alias("doc_id"),
            F.col("old_doc").alias("dup_of"),
            "est_jaccard",
        )
    )


# --------------------------------------------------------------------------
# PageRank over the near-dup pair graph
# --------------------------------------------------------------------------
# The link-analysis member of the iterative-algorithm family (next to
# k-means and connected components): PageRank with damping 0.85 over
# the symmetric MinHash-LSH pair graph, _PR_ITERS fixed power
# iterations, dangling mass redistributed uniformly. In a
# training-data pipeline this is the centrality score used to pick
# cluster representatives / rank domains; structurally it is the
# canonical "iterative joins on Spark" workload.
#
# Scale shape: fully LAZY — unlike the CC loop there is no convergence
# collect; the fixed-iteration recurrence unrolls into ONE plan (per
# iteration: one contribution projection, one edge join + partial-agg
# inflow shuffle, one 1-row dangling aggregate broadcast). Per-round
# frames are persisted so the three consumers of round t share one
# materialization. Driver state: the vertex count (one int, collected
# at plan build like the k-means seeds).
#
# Determinism: ranks live as round(r * 2^40) BIGINT between
# iterations (the k-means/LM scaled-integer pattern). Per-edge
# contributions round(q/deg), inflow sums, and the damping update are
# computed from identical integers in identical expression shapes, so
# every intermediate — and the final pr_q — is bit-identical to the
# SQL replay (both engines round half-away-from-zero).

_PR_S = float(1 << 40)
_PR_ITERS = 3


def _pagerank_oracle_sql() -> str:
    s = _PR_S
    # MATERIALIZED: the minhash pair CTE is referenced (via edges) in
    # every unrolled iteration; DuckDB's default heuristic re-inlined
    # it per reference, turning a ~1 s oracle into ~35 s — pin the
    # expensive subplans so the replay evaluates each once.
    steps = [
        f"mh AS MATERIALIZED (\n{_MINHASH_ORACLE}\n)",
        """edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM mh
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM mh
)""",
        """dg AS (
  SELECT src AS doc_id, COUNT(*) AS deg FROM edges GROUP BY src
)""",
        "nn AS (\n  SELECT COUNT(*) AS n FROM documents\n)",
        f"""r0 AS MATERIALIZED (
  SELECT d.doc_id, COALESCE(g.deg, 0) AS deg,
         CAST(round({s} / nn.n) AS BIGINT) AS q
  FROM documents d LEFT JOIN dg g ON d.doc_id = g.doc_id CROSS JOIN nn
)""",
    ]
    for t in range(_PR_ITERS):
        steps.append(
            f"""c{t} AS (
  SELECT doc_id, CAST(round(CAST(q AS DOUBLE) / deg) AS BIGINT) AS c
  FROM r{t} WHERE deg > 0
)"""
        )
        steps.append(
            f"""i{t} AS (
  SELECT e.dst AS doc_id, SUM(c.c) AS infl
  FROM edges e JOIN c{t} c ON c.doc_id = e.src GROUP BY e.dst
)"""
        )
        steps.append(
            f"""d{t} AS (
  SELECT COALESCE(SUM(q), 0) AS dang FROM r{t} WHERE deg = 0
)"""
        )
        steps.append(
            f"""r{t + 1} AS MATERIALIZED (
  SELECT r.doc_id, r.deg,
         CAST(round(0.15 * {s} / nn.n
                    + 0.85 * (COALESCE(i.infl, 0)
                              + CAST(d.dang AS DOUBLE) / nn.n))
              AS BIGINT) AS q
  FROM r{t} r LEFT JOIN i{t} i ON r.doc_id = i.doc_id
  CROSS JOIN d{t} d CROSS JOIN nn
)"""
        )
    return (
        "WITH "
        + ",\n".join(steps)
        + f"""
SELECT doc_id, CAST(deg AS BIGINT) AS deg, q AS pr_q,
       ROUND(CAST(q AS DOUBLE) / {s}, 6) AS pr_r
FROM r{_PR_ITERS}
"""
    )


@register(
    "docs_pagerank",
    oracle=_pagerank_oracle_sql(),
    tags=("graph", "iterative", "pagerank"),
    expose=False,
)
def docs_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 power iterations, uniform dangling
    redistribution) over the symmetric MinHash-LSH near-dup graph;
    every document is a vertex (singletons are dangling). Ranks are
    scaled-integer BIGINTs between iterations, so pr_q is exact
    against the unrolled-CTE oracle; pr_r is its 6-digit decimal.
    Driver-surfaced through the 'pagerank' branch of group_agg_suite."""
    from streamlit_flink_demo_spark.plans import REGISTRY

    pairs = REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    # localCheckpoint (not persist) for the loop state: rank frame t is
    # consumed THREE times by iteration t+1 (contributions, dangling
    # mass, and the update join), so without lineage truncation the
    # unrolled logical plan embeds the full upstream DAG 3^t times —
    # at sf0.1 the plan TREE itself OOMed the driver before any data
    # moved. Truncating per round is the standard iterative-graph
    # pattern (GraphX checkpoints on the same schedule); the
    # checkpointed state is k rows × 3 ints per vertex partition,
    # executor-resident, and failure-recovery at production scale
    # swaps in reliable checkpointing on the same call site.
    # one explode instead of union-of-two-selects (r13 optimization,
    # see dedup_connected_clusters above): halves the pairs subtree.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("src"),
                    F.col("doc_b").alias("dst"),
                ),
                F.struct(
                    F.col("doc_b").alias("src"),
                    F.col("doc_a").alias("dst"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst").localCheckpoint()
    deg = edges.groupBy(F.col("src").alias("doc_id")).agg(
        F.count("*").alias("deg")
    )
    verts = load_table(spark, sf_dir, "documents").select("doc_id")
    n = verts.count()  # one int of driver state (like the k-means seeds)
    r = verts.join(deg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("deg", F.lit(0)).alias("deg"),
        F.round(F.lit(_PR_S) / F.lit(n)).cast("bigint").alias("q"),
    ).localCheckpoint()
    for it in range(_PR_ITERS):
        contrib = r.filter(F.col("deg") > 0).select(
            "doc_id",
            F.round(F.col("q").cast("double") / F.col("deg"))
            .cast("bigint")
            .alias("c"),
        )
        infl = (
            edges.join(contrib, edges["src"] == contrib["doc_id"])
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum("c").alias("infl"))
        )
        dang = r.filter(F.col("deg") == 0).agg(
            F.coalesce(F.sum("q"), F.lit(0)).alias("dang")
        )
        r = (
            r.select("doc_id", "deg")
            .join(infl, "doc_id", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "doc_id",
                "deg",
                F.round(
                    F.lit(0.15) * F.lit(_PR_S) / F.lit(n)
                    + F.lit(0.85)
                    * (
                        F.coalesce("infl", F.lit(0))
                        + F.col("dang").cast("double") / F.lit(n)
                    )
                )
                .cast("bigint")
                .alias("q"),
            )
        )
        # the LAST iteration stays lazy: its lineage reaches only the
        # checkpointed r[t-1] + edges (small tree), and repeat
        # executions — bench, the sweep, the driver — re-run one real
        # contribution/inflow/update round instead of merely reading
        # the final checkpoint (eager-checkpointing everything would
        # hide the operator's steady-state cost from every timing).
        if it < _PR_ITERS - 1:
            r = r.localCheckpoint()
    return r.select(
        "doc_id",
        F.col("deg").cast("bigint").alias("deg"),
        F.col("q").alias("pr_q"),
        F.round(F.col("q").cast("double") / _PR_S, 6).alias("pr_r"),
    )


# --------------------------------------------------------------------------
# Asymmetric containment (subset/quote detection)
# --------------------------------------------------------------------------

_CONTAIN_T = 0.5

_CONTAINMENT_ORACLE = f"""
WITH {_SHH_CTE},
df AS (
  SELECT h, COUNT(*) AS doc_freq FROM shh GROUP BY h
),
sh_kept AS (
  SELECT shh.doc_id, shh.h FROM shh JOIN df USING (h) WHERE df.doc_freq <= 50
),
sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh_kept GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM sh_kept a JOIN sh_kept b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(na.n AS BIGINT) AS n_a,
       CAST(nb.n AS BIGINT) AS n_b,
       CAST(i AS BIGINT) AS n_common,
       i / LEAST(na.n, nb.n)::DOUBLE AS containment,
       i / (na.n + nb.n - i)::DOUBLE AS jaccard_sim
FROM inter
JOIN sizes na ON doc_a = na.doc_id
JOIN sizes nb ON doc_b = nb.doc_id
WHERE i / LEAST(na.n, nb.n)::DOUBLE >= {_CONTAIN_T}
"""


@register(
    "dedup_containment",
    oracle=_CONTAINMENT_ORACLE,
    tags=("dedup", "containment"),
    expose=False,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection: containment = |A∩B| / min(|A|,
    |B|) over the same capped shingle inverted index as
    ``dedup_ngram_jaccard``. Jaccard misses the classic corpus
    pathology of a SHORT document wholly quoted inside a LONG one
    (small ∩ over a big union → low Jaccard, containment ≈ 1); this
    operator flags exactly those pairs, emitting both scores so the
    asymmetric cases are visible as a containment-vs-jaccard gap.
    Same scale contract as the Jaccard operator: df-cap bounds the
    inverted-index self-join, one extra LEAST() costs nothing."""
    from pyspark.sql.window import Window as W

    sh = _doc_shingle_hashes(spark, sf_dir)
    sh_kept = track_persist(
        sh.withColumn("doc_freq", F.count("*").over(W.partitionBy("h")))
        .filter(F.col("doc_freq") <= 50)
        .select("doc_id", "h")
    )
    sizes = sh_kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh_kept.alias("a")
    b = sh_kept.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("i"))
    )
    na = sizes.alias("na")
    nb = sizes.alias("nb")
    cont = F.col("i") / F.least(F.col("na.n"), F.col("nb.n")).cast("double")
    jac = (
        F.col("i")
        / (F.col("na.n") + F.col("nb.n") - F.col("i")).cast("double")
    )
    return (
        inter.join(na, F.col("doc_a") == F.col("na.doc_id"))
        .join(nb, F.col("doc_b") == F.col("nb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.col("na.n").cast("bigint").alias("n_a"),
            F.col("nb.n").cast("bigint").alias("n_b"),
            F.col("i").cast("bigint").alias("n_common"),
            cont.alias("containment"),
            jac.alias("jaccard_sim"),
        )
        .filter(F.col("containment") >= _CONTAIN_T)
    )


# --------------------------------------------------------------------------
# Triangle count + local clustering coefficient over the near-dup graph
# --------------------------------------------------------------------------
# The third graph-analytics member (next to connected components and
# PageRank): per-vertex triangle counts and the local clustering
# coefficient 2T/(deg*(deg-1)) over the symmetric MinHash-LSH pair
# graph. In a dedup pipeline this separates tight clique-like
# duplicate clusters (coefficient ~1: every pair near-identical —
# safe to keep one representative) from star/chain clusters
# (coefficient ~0: a hub document partially overlapping many unrelated
# ones — transitive "duplicates" that need per-edge review before
# dropping).
#
# Scale shape: the node-iterator formulation on canonically ordered
# edges (a<b) — ONE wedge join (e1.dst = e2.src gives a<b<c, so each
# triangle is generated exactly once) + one closing edge join + one
# explode/groupBy for per-vertex counts. No driver state at all. At
# 100 TB the standard refinement is degree-ordered orientation
# (least-degree vertex first) so wedge fan-out is bounded by the
# SMALLER endpoint's degree; on an LSH pair graph the id-order
# orientation is already safe because the >=0.5-Jaccard threshold
# bounds component (and hence degree) size, and AQE skew-join splits
# any residual hub. Reference scope: the reference engine has no graph
# operators at all (lib/flink.py:21-131 is a REST client); this is
# extension scope for the training-data pipeline.

_TRIANGLE_ORACLE = f"""
WITH mh AS MATERIALIZED (
{_MINHASH_ORACLE}
),
e AS (
  SELECT doc_a AS src, doc_b AS dst FROM mh
),
deg AS (
  SELECT doc_id, COUNT(*) AS deg FROM (
    SELECT src AS doc_id FROM e UNION ALL SELECT dst AS doc_id FROM e
  ) GROUP BY doc_id
),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM e e1
  JOIN e e2 ON e1.dst = e2.src
  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
pt AS (
  SELECT doc_id, COUNT(*) AS n_tri FROM (
    SELECT a AS doc_id FROM tri
    UNION ALL SELECT b AS doc_id FROM tri
    UNION ALL SELECT c AS doc_id FROM tri
  ) GROUP BY doc_id
)
SELECT deg.doc_id,
       CAST(deg.deg AS BIGINT) AS deg,
       CAST(COALESCE(pt.n_tri, 0) AS BIGINT) AS n_tri,
       CASE WHEN deg.deg >= 2
            THEN ROUND(2.0 * COALESCE(pt.n_tri, 0)
                       / (deg.deg * (deg.deg - 1)), 6)
            ELSE 0.0 END AS clustering
FROM deg LEFT JOIN pt ON deg.doc_id = pt.doc_id
"""


@register(
    "docs_triangle_stats",
    oracle=_TRIANGLE_ORACLE,
    tags=("graph", "triangle", "join"),
    expose=False,
)
def docs_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle count and local clustering coefficient
    (2T/(deg*(deg-1))) over the MinHash-LSH near-dup pair graph.
    Canonical edge order (doc_a < doc_b) makes the wedge join
    (e1.dst = e2.src) enumerate each triangle exactly once; integer
    counts are exact, the coefficient is one double division of exact
    integers (deterministic vs the oracle). Rows: every vertex with
    degree >= 1."""
    from streamlit_flink_demo_spark.plans import REGISTRY

    e = track_persist(
        REGISTRY["dedup_minhash_lsh"]
        .fn(spark, sf_dir)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    deg = (
        e.select(F.col("src").alias("doc_id"))
        .unionAll(e.select(F.col("dst").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("deg"))
    )
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    wedges = e1.join(e2, F.col("e1.dst") == F.col("e2.src")).select(
        F.col("e1.src").alias("a"),
        F.col("e1.dst").alias("b"),
        F.col("e2.dst").alias("c"),
    )
    tri = wedges.join(
        e3, (F.col("a") == F.col("e3.src")) & (F.col("c") == F.col("e3.dst"))
    ).select("a", "b", "c")
    per_vertex = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tri"))
    )
    ntri = F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint")
    coeff = F.when(
        F.col("deg") >= 2,
        F.round(
            F.lit(2.0) * ntri / (F.col("deg") * (F.col("deg") - 1)), 6
        ),
    ).otherwise(F.lit(0.0))
    return deg.join(per_vertex, "doc_id", "left").select(
        "doc_id",
        F.col("deg").cast("bigint").alias("deg"),
        ntri.alias("n_tri"),
        coeff.alias("clustering"),
    )


# --------------------------------------------------------------------------
# Exact substring dedup (truncated suffix order) — Lee et al. 2022
# --------------------------------------------------------------------------
# The EXACT complement to dedup_substring_spans: that operator marks
# duplicated token windows by their 60-bit rolling hash (a collision
# can mark a span that is not really duplicated), while this one
# groups every character position's L-gram by the GRAM TEXT ITSELF —
# the same guarantee a corpus suffix array gives ("Deduplicating
# Training Data Makes Language Models Better", Lee et al. 2022): a
# duplicated substring of length >= L exists iff some exact L-gram
# occurs at >= 2 positions, and all maximal duplicated regions are
# unions of such seed coverages. Grouping by the gram text is the
# relational form of sorting the (length-truncated) suffixes and
# scanning adjacent entries for LCP >= L — equal truncated suffixes
# are exactly the rows a suffix-array neighbor scan pairs up.
#
# Cost model (the price of exactness): the one corpus-wide exchange
# carries (doc_id, pos, L chars) ~= L+16 bytes per character position
# — L× the raw corpus, same blow-up the sharded suffix-array builders
# accept, vs 20 B/token for the hashed approximation. Run the hashed
# tier as the screen and this tier where exactness is contractual.
# Islands merge per doc reuses the second (doc_id) exchange; the final
# two aggregations ride that partitioning — two exchanges total, the
# dedup_substring_spans discipline.

_SFX_L = 24  # seed gram length in CHARACTERS; spans reported are >= this


@register(
    "dedup_suffix_spans",
    oracle=f"""
WITH pos AS (
  SELECT doc_id, k AS p, substr(text, k + 1, {_SFX_L}) AS gram
  FROM (
    SELECT doc_id, text, unnest(range(0, length(text) - {_SFX_L} + 1)) AS k
    FROM documents WHERE length(text) >= {_SFX_L}
  )
),
seeds AS (
  SELECT doc_id, p FROM (
    SELECT doc_id, p, COUNT(*) OVER (PARTITION BY gram) AS m FROM pos
  ) WHERE m >= 2
),
isl AS (
  SELECT doc_id, p,
         SUM(CASE WHEN prev IS NULL OR p - prev > {_SFX_L}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY p
                 ROWS UNBOUNDED PRECEDING) AS grp
  FROM (
    SELECT doc_id, p,
           LAG(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
    FROM seeds
  )
),
sp AS (
  SELECT doc_id,
         MIN(p)::BIGINT AS s,
         (MAX(p) + {_SFX_L})::BIGINT AS e
  FROM isl GROUP BY doc_id, grp
)
SELECT doc_id,
       COUNT(*)::BIGINT AS n_spans,
       SUM(e - s)::BIGINT AS dup_chars,
       SUM(s * 100003 + e)::BIGINT AS span_checksum
FROM sp GROUP BY doc_id
""",
    tags=("dedup", "span", "suffix"),
    expose=False,
)
def dedup_suffix_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact maximal duplicated CHARACTER regions (>= _SFX_L chars)
    per document, truncated-suffix-order formulation (Lee et al.
    2022): every char position contributes its exact _SFX_L-gram; a
    gram occurring at >= 2 corpus positions (cross- or intra-doc) is a
    duplicated seed; seed coverages [p, p+L) that touch or overlap
    (gap <= L) merge into maximal disjoint regions. No hashing in the
    duplication test — the grouping key is the gram text, so a
    reported span is duplicated with certainty. Per-doc integer
    summary (span count, covered chars, extent checksum) keeps the
    result narrow and hash-checkable.

    Plan: explode + gram projection are pipelined with the scan (the
    document text never crosses the wire — only (doc_id, pos, gram));
    one corpus-wide exchange on the gram for the count window, one
    exchange on doc_id for the islands window, and both aggregations
    reuse the doc_id partitioning (plan-asserted in
    tests/test_plans.py)."""
    from pyspark.sql.window import Window as W

    L = _SFX_L
    d = load_spread(spark, sf_dir, "documents")
    pos = (
        d.filter(F.length("text") >= L)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.length("text") - L)
            ).alias("p"),
            F.col("text"),
        )
        .select(
            "doc_id",
            "p",
            F.col("text").substr(F.col("p") + 1, F.lit(L)).alias("gram"),
        )
    )
    seeds = (
        pos.withColumn("m", F.count("*").over(W.partitionBy("gram")))
        .filter(F.col("m") >= 2)
        .select("doc_id", "p")
    )
    byd = W.partitionBy("doc_id").orderBy("p")
    isl = (
        seeds.withColumn("prev", F.lag("p").over(byd))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull() | (F.col("p") - F.col("prev") > L),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "grp",
            F.sum("brk").over(byd.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    sp = isl.groupBy("doc_id", "grp").agg(
        F.min("p").cast("bigint").alias("s"),
        (F.max("p") + L).cast("bigint").alias("e"),
    )
    return sp.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).cast("bigint").alias("dup_chars"),
        F.sum(F.col("s") * 100003 + F.col("e"))
        .cast("bigint")
        .alias("span_checksum"),
    )


# --------------------------------------------------------------------------
# Bloom-filter dedup — the cross-snapshot screen at 100 TB
# --------------------------------------------------------------------------
# The structure web-scale pipelines (RedPajama-class) actually use to
# drop re-crawled content at the door: build a Bloom filter over the
# stable corpus's content digests ONCE, then probe each new batch
# against it — O(corpus bits) state instead of an O(corpus) join side,
# and the filter ships as a broadcast table. The deterministic
# construction (md5-derived hash positions, functions/hashing.u60) and
# integer bit arithmetic make build AND probe SQL-replayable exactly,
# false positives included — the oracle reproduces the identical
# filter, so the FP accounting is value-checked, not approximated.
#
# Words are 63 BITS wide, not 64: both engines' BIGINT is signed and
# DuckDB raises on a left shift into the sign bit (1::BIGINT << 63),
# so masks stay in bits 0..62 and every word value is non-negative in
# both engines.
#
# Scale shape: build = one narrow pass over the corpus digests +
# ONE bit_or aggregation into <= _BLOOM_WORDS rows (map-side partial
# OR makes the exchange k rows per partition); probe = explode k
# positions per new doc + a broadcast join against the word table —
# per-batch cost scales with the batch, the dedup_incremental
# argument, but with O(1)-row lookups instead of signature
# comparisons. Sizing: m = 64512 bits for the test corpus; production
# scales _BLOOM_WORDS with corpus cardinality (bits ≈ 10 x n for ~1%
# FP) — a constant, not a shape change.

_BLOOM_WORDS = 1024
_BLOOM_BITS_PER_WORD = 63
_BLOOM_M = _BLOOM_WORDS * _BLOOM_BITS_PER_WORD
_BLOOM_K = 3


def _bloom_positions_sql(expr: str) -> list[str]:
    out = []
    for j in range(_BLOOM_K):
        salted = f"'bloom{j}:' || {expr}"
        out.append(f"({u60_sql(salted)} % {_BLOOM_M})")
    return out


_BLOOM_ORACLE = f"""
WITH corpus AS (
  SELECT md5(text) AS h FROM documents
  WHERE {u60_sql("doc_id::VARCHAR")} % 100 < 90
),
newbies AS (
  SELECT doc_id, md5(text) AS h FROM documents
  WHERE {u60_sql("doc_id::VARCHAR")} % 100 >= 90
),
cpos AS (
  {" UNION ALL ".join(f"SELECT {p} AS pos FROM corpus" for p in _bloom_positions_sql("h"))}
),
bloom AS (
  SELECT pos // {_BLOOM_BITS_PER_WORD} AS word_idx,
         bit_or(1::BIGINT << (pos % {_BLOOM_BITS_PER_WORD})) AS word
  FROM cpos GROUP BY 1
),
npos AS (
  {" UNION ALL ".join(f"SELECT doc_id, h, {p} AS pos FROM newbies" for p in _bloom_positions_sql("h"))}
),
probed AS (
  SELECT n.doc_id, n.h,
         CASE WHEN b.word IS NOT NULL
               AND (b.word & (1::BIGINT << (n.pos % {_BLOOM_BITS_PER_WORD}))) <> 0
              THEN 1 ELSE 0 END AS hit
  FROM npos n
  LEFT JOIN bloom b ON b.word_idx = n.pos // {_BLOOM_BITS_PER_WORD}
),
flags AS (
  SELECT doc_id, h,
         CASE WHEN SUM(hit) = {_BLOOM_K} THEN 1 ELSE 0 END AS bloom_hit
  FROM probed GROUP BY doc_id, h
)
SELECT f.doc_id,
       CAST(f.bloom_hit AS BIGINT) AS bloom_hit,
       CAST(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS exact_dup,
       CAST(CASE WHEN f.bloom_hit = 1 AND c.h IS NULL THEN 1 ELSE 0 END
            AS BIGINT) AS false_positive
FROM flags f LEFT JOIN (SELECT DISTINCT h FROM corpus) c ON f.h = c.h
"""


@register(
    "docs_bloom_dedup",
    oracle=_BLOOM_ORACLE,
    tags=("dedup", "bloom", "incremental"),
    expose=False,
)
def docs_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter cross-snapshot dedup: the stable 90% corpus slice
    (dedup_incremental's hash split) builds a deterministic
    3-hash (_BLOOM_K) Bloom filter over content digests; the new 10%
    slice probes it. Output per new doc: bloom verdict, exact-join
    ground truth, and the false-positive flag — all value-checked
    against the oracle's replay of the identical filter. NOTE: the
    ``exact_dup``/``false_positive`` columns are VALIDATION-ONLY —
    they broadcast the corpus's distinct digests, reintroducing the
    O(corpus) join side the Bloom filter exists to avoid; the
    production probe path is ``bloom_hit`` alone (filter build +
    broadcast probe, no digest join). The synthetic corpus has no
    cross-slice duplicates and a near-empty filter, so the hit/FP
    branches are additionally exercised on planted corpora with a
    shrunk filter in tests/test_bloom.py."""
    d = load_spread(spark, sf_dir, "documents")
    return bloom_dedup_frame(d)


def bloom_dedup_frame(d: DataFrame, n_words: int = _BLOOM_WORDS) -> DataFrame:
    """The bloom build+probe pipeline over any (doc_id, text) frame;
    ``n_words`` sizes the filter (tests shrink it to force saturation
    and observable false positives)."""
    m_bits = n_words * _BLOOM_BITS_PER_WORD
    split = u60(F.col("doc_id").cast("string")) % 100
    corpus = d.filter(split < 90).select(F.md5("text").alias("h"))
    newbies = d.filter(split >= 90).select("doc_id", F.md5("text").alias("h"))

    def positions(df: DataFrame, extra: list[str]) -> DataFrame:
        pos = F.explode(
            F.array(
                *[
                    u60(F.concat(F.lit(f"bloom{j}:"), F.col("h")))
                    % m_bits
                    for j in range(_BLOOM_K)
                ]
            )
        ).alias("pos")
        return df.select(*extra, "h", pos)

    # the SHIFT is a column, which the Python shiftleft wrapper
    # rejects (literal-only) — the SQL function form accepts any
    # expression for both operands
    mask = F.expr(
        f"shiftleft(cast(1 as bigint), "
        f"cast(pos % {_BLOOM_BITS_PER_WORD} as int))"
    )
    bloom = (
        positions(corpus, [])
        .select(
            F.floor(F.col("pos") / _BLOOM_BITS_PER_WORD)
            .cast("bigint")
            .alias("word_idx"),
            mask.alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )
    probed = (
        positions(newbies, ["doc_id"])
        .withColumn(
            "word_idx",
            F.floor(F.col("pos") / _BLOOM_BITS_PER_WORD).cast("bigint"),
        )
        .join(F.broadcast(bloom), "word_idx", "left")
        .select(
            "doc_id",
            "h",
            F.when(
                F.col("word").isNotNull()
                & (F.col("word").bitwiseAND(mask) != 0),
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
    )
    flags = probed.groupBy("doc_id", "h").agg(
        F.when(F.sum("hit") == _BLOOM_K, 1).otherwise(0).alias("bloom_hit")
    )
    exact = corpus.distinct().withColumn("in_corpus", F.lit(1))
    return flags.join(F.broadcast(exact), "h", "left").select(
        "doc_id",
        F.col("bloom_hit").cast("bigint").alias("bloom_hit"),
        F.coalesce(F.col("in_corpus"), F.lit(0))
        .cast("bigint")
        .alias("exact_dup"),
        F.when(
            (F.col("bloom_hit") == 1) & F.col("in_corpus").isNull(), 1
        )
        .otherwise(0)
        .cast("bigint")
        .alias("false_positive"),
    )


# --------------------------------------------------------------------------
# Sketch-quality observability: MinHash estimate vs exact Jaccard
# --------------------------------------------------------------------------
# The dedup twin of ann_recall_eval (operators/similarity.py): how far
# is the 16-component MinHash estimate from the TRUE shingle Jaccard
# on the pairs the LSH tier actually emits? Production tunes K and the
# banding against exactly this calibration curve. Cost is bounded by
# the CANDIDATE set (the emitted pairs broadcast into the shingle
# joins; true-Jaccard math runs only for candidate docs' shingles),
# never all-pairs — the same candidates-drive-cost shape as the
# verified-pair operators above.


_CALIBRATION_ORACLE = f"""
WITH {_SHH_CTE},
mh AS ({_MINHASH_ORACLE}),
sz AS (SELECT doc_id, COUNT(*) AS n FROM shh GROUP BY doc_id),
ti AS (
  SELECT m.doc_a, m.doc_b, COUNT(*) AS i
  FROM mh m JOIN shh a ON a.doc_id = m.doc_a
            JOIN shh b ON b.doc_id = m.doc_b AND b.h = a.h
  GROUP BY m.doc_a, m.doc_b
)
SELECT m.doc_a, m.doc_b, m.est_jaccard,
       COALESCE(ti.i, 0) / (sa.n + sb.n - COALESCE(ti.i, 0))::DOUBLE
         AS true_jaccard,
       CAST(ROUND(ABS(m.est_jaccard
              - COALESCE(ti.i, 0)
                / (sa.n + sb.n - COALESCE(ti.i, 0))::DOUBLE) * 1000000)
            AS BIGINT) AS abs_err_q
FROM mh m
LEFT JOIN ti ON m.doc_a = ti.doc_a AND m.doc_b = ti.doc_b
JOIN sz sa ON m.doc_a = sa.doc_id
JOIN sz sb ON m.doc_b = sb.doc_id
"""


@register(
    "dedup_minhash_calibration",
    oracle=_CALIBRATION_ORACLE,
    tags=("dedup", "lsh", "eval"),
    expose=False,
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair MinHash calibration: every LSH-emitted candidate pair
    with its 16-component estimate, its EXACT shingle Jaccard
    (computed only for candidate pairs — the pair list prunes the
    shingle joins), and the absolute error quantized to 1e-6. The
    oracle replays the estimate, the exact intersection, and the error
    independently, so the calibration surface itself is value-checked;
    this is the report K and the banding get tuned against."""
    from streamlit_flink_demo_spark.plans import REGISTRY

    # NOT force-broadcast: the candidate list is small at test SF (AQE
    # promotes it to broadcast at runtime) but UNBOUNDED in principle —
    # a replica-heavy corpus inflates it quadratically (the 10× sweep
    # measured 942×), and a forced broadcast would OOM the driver
    # exactly when the calibration matters most. The plain join
    # degrades to shuffle joins on doc_a/doc_b instead.
    pairs = REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir)
    sh = _doc_shingle_hashes(spark, sf_dir)
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "h")
    b = sh.select(F.col("doc_id").alias("b_doc"), F.col("h").alias("hb"))
    inter = (
        pairs.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(
            b,
            (F.col("doc_b") == F.col("b_doc"))
            & (F.col("h") == F.col("hb")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    j = (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(sz.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sz.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
    )
    i0 = F.coalesce(F.col("i"), F.lit(0))
    true_j = i0 / (F.col("na") + F.col("nb") - i0).cast("double")
    return j.select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        true_j.alias("true_jaccard"),
        F.round(F.abs(F.col("est_jaccard") - true_j) * 1000000)
        .cast("bigint")
        .alias("abs_err_q"),
    )


# --------------------------------------------------------------------------
# Leakage-safe train/eval split (split by near-dup CLUSTER, not by doc)
# --------------------------------------------------------------------------
# The doc-level hash split (docs_train_eval_split) leaks: two
# near-duplicates can land on opposite sides, and the eval set then
# scores memorization. The standard fix is to split by the near-dup
# CLUSTER — every member of a connected component goes where its
# cluster goes, so no LSH pair can ever straddle the boundary (the
# property tests/test_graph.py pins directly against the pair list).
# Cost on top of the cluster labels: one per-cluster aggregate and a
# hash on the cluster id — the split itself adds no corpus-sized work.

_LS_SALT = "lsplit:"

_LEAKAGE_SPLIT_ORACLE = f"""
WITH RECURSIVE mh AS (
{_MINHASH_ORACLE}
),
verts AS (
  SELECT doc_id FROM documents
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM mh
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM mh
),
reach AS (
  SELECT doc_id, doc_id AS lbl FROM verts
  UNION
  SELECT e.dst AS doc_id, r.lbl
  FROM reach r JOIN edges e ON e.src = r.doc_id
),
cl AS (
  SELECT doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY doc_id
),
cs AS (
  SELECT cluster_id, COUNT(*) AS n, SUM(doc_id) AS s
  FROM cl GROUP BY cluster_id
),
spl AS (
  SELECT cluster_id, n, s,
         CASE WHEN {u60_sql(f"'{_LS_SALT}' || CAST(cluster_id AS VARCHAR)")}
                   % 100 < 90
              THEN 'train' ELSE 'eval' END AS split
  FROM cs
)
SELECT split,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(MAX(n) AS BIGINT) AS max_cluster_size,
       CAST(SUM(s) AS BIGINT) AS docs_checksum
FROM spl GROUP BY split
"""


@register(
    "docs_leakage_safe_split",
    oracle=_LEAKAGE_SPLIT_ORACLE,
    tags=("pipeline", "split", "dedup"),
    expose=False,
)
def docs_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/10 train/eval split BY NEAR-DUP CLUSTER: the split hash runs
    on the connected-component label (min doc_id of the component,
    salt "lsplit:"), so every near-duplicate lands with its cluster
    and no LSH pair can straddle the boundary — the decontaminated
    split a pretraining pipeline freezes before eval. Output per
    split: doc/cluster counts, the largest cluster, and a doc-id
    checksum; the no-straddle property itself is pinned against the
    raw pair list in pytest."""
    from streamlit_flink_demo_spark.plans import REGISTRY

    cl = REGISTRY["dedup_connected_clusters"].fn(spark, sf_dir)
    cs = cl.groupBy("cluster_id").agg(
        F.count("*").alias("n"), F.sum("doc_id").alias("s")
    )
    split = F.when(
        u60(F.concat(F.lit(_LS_SALT), F.col("cluster_id").cast("string")))
        % 100
        < 90,
        F.lit("train"),
    ).otherwise(F.lit("eval"))
    return (
        cs.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.sum("n").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_clusters"),
            F.max("n").cast("bigint").alias("max_cluster_size"),
            F.sum("s").cast("bigint").alias("docs_checksum"),
        )
    )


# --------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup: shift-invariant chunk dedup
# --------------------------------------------------------------------------
# Fixed-window passage dedup breaks when one byte is inserted — every
# later window shifts. CDC (the LBFS/storage-dedup discipline) cuts
# where a hash of the LOCAL window hits a target residue, so chunk
# boundaries re-synchronize right after any edit and duplicated
# content reappears under the SAME chunk hashes regardless of offset.
# Spark shape: boundary discovery and chunk slicing are ONE map-only
# projection built from higher-order functions (sequence → transform →
# filter — no per-position explode, no shuffle until the final
# chunk-hash aggregation), then a single hash exchange groups equal
# chunks corpus-wide. At 100 TB that is the minimum possible: one scan
# + one combine-enabled aggregation on the chunk digest.

_CDC_W = 16  # rolling-window width (chars)
_CDC_D = 64  # boundary divisor -> expected chunk length ~64 chars


def cdc_chunks_col() -> F.Column:
    """Array of this document's CDC chunks: cut AFTER any 16-char
    window whose u60 ≡ 0 (mod 64); slices between consecutive cuts
    (document start/end are always boundaries)."""
    cuts = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.length("text") - _CDC_W),
            lambda p: F.when(
                u60(F.col("text").substr(p + 1, F.lit(_CDC_W))) % _CDC_D
                == 0,
                p + _CDC_W,
            ),
        ),
        lambda x: x.isNotNull(),
    )
    bounds = F.concat(
        F.array(F.lit(0)), cuts, F.array(F.length("text"))
    )
    return F.filter(
        F.transform(
            F.sequence(F.lit(0), F.size(bounds) - 2),
            lambda i: F.col("text").substr(
                F.element_at(bounds, i + 1) + 1,
                F.element_at(bounds, i + 2) - F.element_at(bounds, i + 1),
            ),
        ),
        lambda c: F.length(c) > 0,
    )


def _cdc_chunks_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, chunk): the exploded CDC chunks of every nonempty
    document — ONE chunking pass (one u60 per character position, the
    family's dominant cost) shared by dedup_cdc_chunks and
    dedup_cdc_incremental via track_persist, so cdc_suite chunks the
    corpus once instead of once per branch (the _minhash_frame
    discipline)."""
    d = load_spread(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    return track_persist(
        d.select("doc_id", F.explode(cdc_chunks_col()).alias("chunk"))
    )


_CDC_ORACLE = f"""
WITH cuts AS (
  SELECT doc_id, text,
         list_concat(list_concat(
           [0::BIGINT],
           list_filter(
             list_transform(range(0, length(text) - {_CDC_W} + 1),
               p -> CASE WHEN {u60_sql(f"substr(text, p + 1, {_CDC_W})")}
                              % {_CDC_D} = 0
                         THEN p + {_CDC_W} END),
             x -> x IS NOT NULL)),
           [length(text)::BIGINT]) AS b
  FROM documents WHERE length(text) > 0
),
chunks AS (
  SELECT doc_id, chunk FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, len(b) - 1),
             i -> substr(text, b[i+1] + 1, b[i+2] - b[i+1]))) AS chunk
    FROM cuts
  ) WHERE length(chunk) > 0
)
SELECT md5(chunk) AS chunk_md5,
       CAST(length(MIN(chunk)) AS BIGINT) AS chunk_len,
       COUNT(*)::BIGINT AS n_copies,
       COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
       MIN(doc_id)::BIGINT AS first_doc
FROM chunks
GROUP BY md5(chunk)
HAVING COUNT(*) >= 2
"""


@register(
    "dedup_cdc_chunks",
    oracle=_CDC_ORACLE,
    tags=("dedup", "cdc", "chunk"),
    expose=False,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup: cut every document where the
    16-char window hash hits residue 0 mod 64 (expected ~64-char
    chunks, boundaries re-synchronize after any insertion — the
    shift-invariance fixed windows lack, pinned in
    tests/test_similarity.py), hash each chunk, report every chunk
    content duplicated corpus-wide (copies, distinct docs, first
    holder). Chunking is one map-only higher-order-function
    projection; the only exchange is the final combine-enabled
    group-by on the chunk digest. The chunking pass itself is shared
    with dedup_cdc_incremental via ``_cdc_chunks_frame`` (the
    _minhash_frame persist discipline) — inside cdc_suite the corpus
    is chunked ONCE, not once per branch."""
    chunks = _cdc_chunks_frame(spark, sf_dir)
    return (
        chunks.groupBy(F.md5("chunk").alias("chunk_md5"))
        .agg(
            F.length(F.min("chunk")).cast("bigint").alias("chunk_len"),
            F.count("*").cast("bigint").alias("n_copies"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .filter(F.col("n_copies") >= 2)
    )


# --------------------------------------------------------------------------
# Dedup yield curve: the tuning view over the near-dup threshold
# --------------------------------------------------------------------------

_YIELD_T16 = (8, 10, 12, 14, 16)  # thresholds in 16ths (est_jaccard*K)


@register(
    "dedup_minhash_yield_curve",
    oracle=f"""
WITH pairs AS MATERIALIZED ({_MINHASH_ORACLE})
SELECT CAST(t.t16 AS BIGINT) AS tau_16,
       COUNT(p.doc_b)::BIGINT AS n_pairs,
       COUNT(DISTINCT p.doc_b)::BIGINT AS n_docs_dropped,
       COALESCE(SUM(DISTINCT p.doc_b), 0)::BIGINT AS dropped_checksum
FROM (SELECT unnest({list(_YIELD_T16)}) AS t16) t
LEFT JOIN pairs p
  ON CAST(round(p.est_jaccard * {_K}) AS BIGINT) >= t.t16
GROUP BY t.t16
""",
    tags=("dedup", "lsh", "eval"),
    expose=False,
)
def dedup_minhash_yield_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The curve a data engineer actually tunes with: for each
    near-dup threshold tau (in exact 16ths of the K=16 MinHash
    agreement count — integer comparisons, no float-boundary
    hazards), how many candidate pairs survive and how many documents
    keep-first dedup would drop (a document drops once no matter how
    many pairs flag it; dropped = the larger doc_id, the engine's
    keep-first convention). One pass over the already-registered pair
    list joined to a 5-row threshold frame — the pairs are computed
    once, the curve is a broadcast join + grouped count."""
    from streamlit_flink_demo_spark.plans import REGISTRY

    pairs = REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).select(
        "doc_b",
        F.round(F.col("est_jaccard") * _K)
        .cast("bigint")
        .alias("eq16"),
    )
    taus = spark.createDataFrame(
        [(t,) for t in _YIELD_T16], "t16 bigint"
    )
    j = F.broadcast(taus).join(
        pairs, F.col("eq16") >= F.col("t16"), "left"
    )
    return j.groupBy(F.col("t16").alias("tau_16")).agg(
        F.count("doc_b").cast("bigint").alias("n_pairs"),
        F.countDistinct("doc_b").cast("bigint").alias("n_docs_dropped"),
        F.coalesce(F.sum_distinct("doc_b"), F.lit(0))
        .cast("bigint")
        .alias("dropped_checksum"),
    )


_CDC_INC_ORACLE = f"""
WITH cuts AS (
  SELECT doc_id, text,
         ({u60_sql("CAST(doc_id AS VARCHAR)")} % 100) >= 90 AS is_new,
         list_concat(list_concat(
           [0::BIGINT],
           list_filter(
             list_transform(range(0, length(text) - {_CDC_W} + 1),
               p -> CASE WHEN {u60_sql(f"substr(text, p + 1, {_CDC_W})")}
                              % {_CDC_D} = 0
                         THEN p + {_CDC_W} END),
             x -> x IS NOT NULL)),
           [length(text)::BIGINT]) AS b
  FROM documents WHERE length(text) > 0
),
chunks AS (
  SELECT doc_id, is_new, chunk FROM (
    SELECT doc_id, is_new,
           unnest(list_transform(range(0, len(b) - 1),
             i -> substr(text, b[i+1] + 1, b[i+2] - b[i+1]))) AS chunk
    FROM cuts
  ) WHERE length(chunk) > 0
),
base_hashes AS (
  SELECT DISTINCT md5(chunk) AS h FROM chunks WHERE NOT is_new
)
SELECT c.doc_id,
       COUNT(*)::BIGINT AS n_chunks,
       SUM(CASE WHEN bh.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_dup_chunks,
       SUM(CASE WHEN bh.h IS NOT NULL THEN length(c.chunk)
                ELSE 0 END)::BIGINT AS dup_chars,
       ROUND(SUM(CASE WHEN bh.h IS NOT NULL THEN length(c.chunk)
                 ELSE 0 END)::DOUBLE / SUM(length(c.chunk)), 6)
         AS dup_frac_r
FROM chunks c LEFT JOIN base_hashes bh ON md5(c.chunk) = bh.h
WHERE c.is_new
GROUP BY c.doc_id
"""


@register(
    "dedup_cdc_incremental",
    oracle=_CDC_INC_ORACLE,
    tags=("dedup", "cdc", "chunk", "incremental"),
    expose=False,
)
def dedup_cdc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CDC coverage: how much of each ARRIVING document
    (the 10% hash-slice, the engine's delta convention) is content the
    standing corpus already stores, at content-defined-chunk
    granularity — the dedup-storage question ('how many bytes of this
    crawl are new?') that fixed windows can't answer under insertions.
    Per new doc: chunk count, chunks whose exact content exists in the
    base, duplicated characters, duplicated fraction. One CDC scan,
    one distinct-hash projection of the base side, one hash join on
    the digest — cost ∝ corpus chunks, never pairs. The chunking pass
    is shared with dedup_cdc_chunks (``_cdc_chunks_frame``)."""
    chunks = _cdc_chunks_frame(spark, sf_dir).withColumn(
        "is_new", (u60(F.col("doc_id").cast("string")) % 100) >= 90
    )
    base_hashes = (
        chunks.filter(~F.col("is_new"))
        .select(F.md5("chunk").alias("h"))
        .distinct()
    )
    nc = chunks.filter("is_new").select(
        "doc_id", "chunk", F.md5("chunk").alias("h")
    )
    j = nc.join(
        base_hashes.withColumnRenamed("h", "bh"),
        F.col("h") == F.col("bh"),
        "left",
    )
    dup_chars = F.sum(
        F.when(F.col("bh").isNotNull(), F.length("chunk")).otherwise(0)
    )
    return j.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum(F.col("bh").isNotNull().cast("int"))
        .cast("bigint")
        .alias("n_dup_chunks"),
        dup_chars.cast("bigint").alias("dup_chars"),
        F.round(
            dup_chars.cast("double") / F.sum(F.length("chunk")), 6
        ).alias("dup_frac_r"),
    )


# --------------------------------------------------------------------------
# Standing CDC chunk-hash index: the artifact the coverage door-check
# probes (and compaction grows)
# --------------------------------------------------------------------------

_CDC_HB_PARTS = 64  # hash-bucket partitions of the chunk-digest index


def cdc_hash_rows(docs: DataFrame) -> DataFrame:
    """(hb, h) distinct chunk digests of a corpus frame — the CDC
    index's rows. hb = first bucket of the digest, the partition
    column a batch's broadcast hash set prunes on."""
    return (
        docs.filter(F.length("text") > 0)
        .select(F.explode(cdc_chunks_col()).alias("chunk"))
        .select(F.md5("chunk").alias("h"))
        .distinct()
        .withColumn(
            "hb",
            (F.conv(F.substring("h", 1, 4), 16, 10) % _CDC_HB_PARTS)
            .cast("int"),
        )
    )


def init_cdc_index(
    docs: DataFrame, path: str, meta: dict | None = None
) -> str:
    """Build and atomically publish the chunk-digest index for an
    arbitrary corpus frame (the gram-index discipline: parquet
    partitioned by hb, symlink publish, delta-appendable via
    commit_delta / operators/compaction.py). ``meta`` (optional)
    merges into the artifact meta — the fingerprinted sf_dir wrapper
    ``build_cdc_base_index`` records freshness keys through it."""
    from streamlit_flink_demo_spark.operators.similarity import (
        _publish_artifact,
        _write_meta,
    )
    import os as _os

    tmp = f"{path}.tmp-{_os.getpid()}"
    (
        cdc_hash_rows(docs)
        .repartition("hb")
        .sortWithinPartitions("h")
        .write.mode("overwrite")
        .partitionBy("hb")
        .parquet(_os.path.join(tmp, "data"))
    )
    _write_meta(tmp, {"hb_parts": _CDC_HB_PARTS, "cdc_w": _CDC_W,
                      "cdc_d": _CDC_D, **(meta or {})})
    _publish_artifact(tmp, path)
    return path


def build_cdc_base_index(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Fingerprinted CDC chunk-digest artifact over the BASE
    (hash-mod < 90) document slice — the standing corpus of the
    incremental convention, persisted once and probed per delta
    (the build_gram_index discipline applied to CDC digests)."""
    from streamlit_flink_demo_spark.operators.similarity import (
        _artifact_is_fresh,
        _index_dir,
        table_fingerprint,
    )

    out = _index_dir("cdc_base", sf_dir)
    fp = table_fingerprint(sf_dir, "documents")
    params = {
        "hb_parts": _CDC_HB_PARTS,
        "cdc_w": _CDC_W,
        "cdc_d": _CDC_D,
        "slice": "base90",
    }
    if not force and _artifact_is_fresh(out, fp, params):
        return out
    docs = (
        load_spread(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .filter((u60(F.col("doc_id").cast("string")) % 100) < 90)
    )
    init_cdc_index(docs, out, meta={"fingerprint": fp, **params})
    return out


def cdc_coverage_batch(
    batch_docs: DataFrame, index_df: DataFrame
) -> DataFrame:
    """Per-document CDC coverage of one (micro-)batch against a
    standing chunk-digest frame: (doc_id, n_chunks, n_dup_chunks,
    dup_chars, dup_frac_r) — 'how many of this arrival's bytes does
    the corpus already store'. The batch's digest set is small and
    broadcast; joined on (hb, h) against the bucket-partitioned
    artifact the scan dynamic-partition-prunes to the batch's hash
    buckets, so per-batch cost ∝ batch + touched buckets."""
    nc = (
        batch_docs.filter(F.length("text") > 0)
        .select("doc_id", F.explode(cdc_chunks_col()).alias("chunk"))
        .select(
            "doc_id",
            F.length("chunk").cast("bigint").alias("clen"),
            F.md5("chunk").alias("h"),
        )
        .withColumn(
            "hb",
            (F.conv(F.substring("h", 1, 4), 16, 10) % _CDC_HB_PARTS)
            .cast("int"),
        )
    )
    hits = (
        F.broadcast(nc.select("hb", "h").distinct())
        .join(index_df.select("hb", "h"), ["hb", "h"])
        .select("h")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    j = nc.join(hits, "h", "left")
    dup_chars = F.sum(
        F.when(F.col("hit"), F.col("clen")).otherwise(F.lit(0))
    )
    return j.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum(F.coalesce(F.col("hit"), F.lit(False)).cast("int"))
        .cast("bigint")
        .alias("n_dup_chunks"),
        dup_chars.cast("bigint").alias("dup_chars"),
        F.round(dup_chars.cast("double") / F.sum("clen"), 6).alias(
            "dup_frac_r"
        ),
    )


@register(
    "dedup_cdc_incremental_idx",
    # same oracle as the query form: the artifact stores exactly the
    # distinct base-slice chunk digests, so probe ≡ full recompute —
    # a hash match proves the persisted index serves the identical
    # coverage answer the corpus rescan produces.
    oracle=_CDC_INC_ORACLE,
    tags=("dedup", "cdc", "chunk", "incremental", "artifact"),
    expose=False,
)
def dedup_cdc_incremental_idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CDC coverage riding the PERSISTED bucket-partitioned
    chunk-digest artifact — the batch twin of the streaming door-check
    (streaming/cdc_ingest.py probes this same artifact family per
    batch): the base slice is digested ONCE (build_cdc_base_index,
    parquet partitioned by hb = digest bucket), and the arriving 10%
    slice probes it via a broadcast digest set that dynamic-partition-
    prunes the artifact scan to the delta's own buckets
    (cdc_coverage_batch — plan-asserted in tests/test_plans.py). Base
    text is never rescanned at delta time; per-delta cost ∝ delta +
    touched buckets, the 100 TB posture the full-scan query form
    (dedup_cdc_chunks / dedup_cdc_incremental) lacks."""
    from streamlit_flink_demo_spark.operators.incremental import (
        read_live_index,
    )

    path = build_cdc_base_index(spark, sf_dir)
    idx = read_live_index(spark, path)
    delta = (
        load_spread(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .filter((u60(F.col("doc_id").cast("string")) % 100) >= 90)
    )
    return cdc_coverage_batch(delta, idx)


# --------------------------------------------------------------------------
# Standing MinHash signature artifact: the batch probe form
# (completes the artifact-probing trio: gram index, CDC digests, sigs)
# --------------------------------------------------------------------------


def build_sig_base_index(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Fingerprinted MinHash signature artifact over the BASE
    (hash-mod < 90) document slice — the standing corpus the
    incremental convention probes. Signing the corpus is the
    expensive pass (one shingle hash per token window); this pays it
    ONCE, exactly like build_gram_index / build_cdc_base_index for
    their families. Delta-appendable and tombstone-aware via the
    shared artifact machinery (operators/incremental.py)."""
    from streamlit_flink_demo_spark.operators.similarity import (
        _artifact_is_fresh,
        _index_dir,
        _publish_artifact,
        _write_meta,
        table_fingerprint,
    )
    import os as _os

    out = _index_dir("sig_base", sf_dir)
    fp = table_fingerprint(sf_dir, "documents")
    params = {"k": _K, "bands": _BANDS, "rows": _ROWS, "slice": "base90"}
    if not force and _artifact_is_fresh(out, fp, params):
        return out
    base = load_spread(spark, sf_dir, "documents").filter(
        (u60(F.col("doc_id").cast("string")) % 100) < 90
    )
    tmp = f"{out}.tmp-{_os.getpid()}"
    (
        minhash_signatures(base)
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(_os.path.join(tmp, "data"))
    )
    _write_meta(tmp, {"fingerprint": fp, **params})
    _publish_artifact(tmp, out)
    return out


from streamlit_flink_demo_spark.plans import REGISTRY as _REGISTRY  # noqa: E402


@register(
    "dedup_incremental_sigidx",
    # the same oracle as the recompute form: the artifact stores
    # exactly the base slice's signatures, so probe ≡ full recompute —
    # a hash match proves the persisted signature index serves the
    # identical incremental-dedup answer.
    oracle=_REGISTRY["dedup_incremental"].oracle,
    tags=("dedup", "lsh", "incremental", "artifact"),
    expose=False,
)
def dedup_incremental_sigidx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup riding the PERSISTED signature
    artifact — the batch twin of streaming/dedup_ingest.py's artifact
    mode, completing the probe-form trio (dedup_span_rewrite_delta_
    gramidx, dedup_cdc_incremental_idx, and now the MinHash family):
    the base slice is signed ONCE (build_sig_base_index), and the
    arriving 10% slice is signed at batch size and broadcast-probed
    against the standing band keys (near_dup_flags_batch — the exact
    code the door-check runs per micro-batch). Base text is never
    re-shingled at delta time; same oracle as dedup_incremental, so
    probe ≡ recompute is hash-checked."""
    from streamlit_flink_demo_spark.operators.incremental import (
        read_live_index,
    )
    from streamlit_flink_demo_spark.streaming.dedup_ingest import (
        near_dup_flags_batch,
    )

    path = build_sig_base_index(spark, sf_dir)
    corpus_sigs = read_live_index(spark, path)
    corpus_bands = corpus_sigs.select(
        F.col("doc_id").alias("old_doc"),
        F.explode(_band_keys_col()).alias("band_key"),
    )
    delta = load_spread(spark, sf_dir, "documents").filter(
        (u60(F.col("doc_id").cast("string")) % 100) >= 90
    )
    flags = near_dup_flags_batch(delta, corpus_sigs, corpus_bands)
    return flags.filter(F.col("dup_of").isNotNull()).select(
        "doc_id", "dup_of", "est_jaccard"
    )
