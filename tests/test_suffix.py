"""Distributed prefix-doubling suffix array and the exact span-removal
and contamination queries (operators/suffix.py).

Full-corpus parity vs the brute-force sort-the-suffixes oracle is in
tests/test_oracle_parity.py; these tests pin the construction on
adversarial shapes parity's synthetic corpus may not hit: duplicate
documents (tied suffixes at every position), documents shorter than
the seed key, single-char docs, and the permutation property of the
final ranks. The span rewrite and the contamination query are held to
the same DuckDB oracle on planted corpora.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from streamlit_flink_demo_spark.operators.suffix import (
    _LCP_CAP,
    _SA_SEED,
    suffix_ranks,
)


def _brute(rows: list[tuple[int, str]]) -> dict[tuple[int, int], int]:
    sfx = [
        (text[p:], doc_id, p)
        for doc_id, text in rows
        for p in range(len(text))
    ]
    sfx.sort()
    return {(d, p): i for i, (_, d, p) in enumerate(sfx)}


def _longest_shared_prefix(rows: list[tuple[int, str]]) -> int:
    sfx = sorted(text[p:] for _, text in rows for p in range(len(text)))
    return max(len(os.path.commonprefix(pair)) for pair in zip(sfx, sfx[1:]))


_DOC80 = "".join(chr(ord("a") + i * i % 23) for i in range(80))
_PREFIX40 = _DOC80[:40]

# Ties the _SA_SEED-char seed cannot resolve: only the doubling rounds
# separate these suffixes, so each case must keep a shared prefix
# longer than the seed (asserted in the test).
_PAST_SEED_CASES = [
    # two identical 80-char docs
    [(1, _DOC80), (2, _DOC80)],
    # one long periodic doc
    [(1, "ab" * 50)],
    # a 40-char shared prefix, then divergence
    [(1, _PREFIX40 + "xyz"), (2, _PREFIX40 + "abc"), (3, _PREFIX40 + "q")],
]


@pytest.mark.parametrize(
    "rows",
    [
        # duplicate docs: every suffix tied across doc ids
        [(1, "abcabc"), (2, "abcabc"), (3, "abcab")],
        # shorter than the seed key + single char + shared prefixes
        [(1, "a"), (2, "ab"), (3, "abc"), (4, "b"), (5, "aab")],
        # periodic text (classic suffix-array stress: long tied runs)
        [(7, "aaaaaaaaaaaaaaaaaaaa"), (8, "aaaaaaaaab")],
        # mixed lengths around the seed boundary
        [(1, "xyzw"), (2, "xyzwxyzwxyzw"), (3, "xyzwxyzv")],
        *_PAST_SEED_CASES,
    ],
)
def test_suffix_ranks_match_brute_force(spark, rows):
    if rows in _PAST_SEED_CASES:
        assert _longest_shared_prefix(rows) > _SA_SEED, "seed alone ranks it"
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.doc_id, r.p): r.sa_rank
        for r in suffix_ranks(docs, spark).collect()
    }
    assert got == _brute(rows)


def test_suffix_ranks_are_a_permutation(spark, sf_dir):
    from streamlit_flink_demo_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").limit(40)
    sa = suffix_ranks(docs, spark)
    n = docs.select(F.sum(F.length("text"))).first()[0]
    stats = sa.agg(
        F.count("*").alias("n"),
        F.countDistinct("sa_rank").alias("nd"),
        F.min("sa_rank").alias("lo"),
        F.max("sa_rank").alias("hi"),
    ).first()
    assert stats["n"] == n
    assert stats["nd"] == n  # total order: every suffix its own rank
    assert stats["lo"] == 0 and stats["hi"] == n - 1


def test_seed_constant_sane():
    assert _SA_SEED >= 2  # doubling must start past single chars


@pytest.mark.parametrize("n_shards", [1, 3])
def test_sharded_ranks_match_per_shard_brute_force(spark, n_shards):
    """Within-shard ranks must equal the brute-force suffix sort of
    each shard's documents alone — shard independence is the property
    the 100 TB build relies on."""
    rows = [
        (1, "abcabc"),
        (2, "abcab"),
        (3, "banana"),
        (4, "ananab"),
        (5, "aa"),
        (6, "abcabc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    shard = (F.col("doc_id") % n_shards).cast("int")
    got = {
        (r.doc_id, r.p): (r.shard, r.sa_rank)
        for r in suffix_ranks(docs, spark, shard_col=shard).collect()
    }
    for s in range(n_shards):
        members = [(d, t) for d, t in rows if d % n_shards == s]
        want = _brute(members)
        for (d, p), rank in want.items():
            assert got[(d, p)] == (s, rank), (d, p, s)


def _write_corpus(spark, tmp_path, rows: list[tuple[int, str]]) -> str:
    """A corpus directory holding only documents.parquet."""
    d = str(tmp_path / "corpus")
    os.makedirs(d)
    spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))
    return d


def _oracle_rows(spark, d: str, name: str) -> dict:
    """``name``'s rows over the corpus at ``d`` by doc_id, after
    requiring them equal to its DuckDB oracle (the brute-force suffix
    sort replay for the span-removal and contamination queries)."""
    from tests.test_oracle_parity import assert_uncached_parity

    rows = assert_uncached_parity(spark, d, name, tables=("documents",))
    return {r.doc_id: r for r in rows}


_BLOCK = "copied paragraph of thirty chars!!"  # 34 chars, >= 24
_LONG = "Z" * (_LCP_CAP + 30)  # a repeat saturating the 64-char cap
_SHARED64 = "s" * (_LCP_CAP + 5)  # a shared 64-char prefix...
_EXACT24 = "q" * 23 + "X"  # a repeat of exactly 24 chars
_CAP_ROWS = [
    (1, "intro " + _LONG + " middle " + _SHARED64 + "AAAA tail"),
    # ...with a different tail: capped-window order differs from true
    # suffix order here
    (2, _LONG + " other " + _SHARED64 + "BBBB different end"),
    (3, "short dup short dup"),  # sub-threshold (< 24): untouched
    (4, "wholly unique document body with nothing repeated at all"),
    (5, _SHARED64 + "AAAA tail"),  # exact-suffix tie with doc 1's end
]

# (rows, {doc cut: min chars removed}, docs left byte-identical)
_PLANTED_REWRITES = {
    "block_in_two_docs": (
        [
            (1, "alpha start " + _BLOCK + " tail one xyzzy"),
            (2, "other intro " + _BLOCK + " closing words two"),
            (3, "entirely unique text with no repeated spans at all qwertyu"),
        ],
        {1: len(_BLOCK), 2: len(_BLOCK)},
        {3},
    ),
    "cap_saturation_and_shared64": (_CAP_ROWS, {1: len(_LONG), 2: len(_LONG)}, {3, 4}),
    # the gram-group boundary itself: docs 6 and 7 share _EXACT24 and
    # nothing longer (the differing neighbour chars are asserted below)
    "exact24_boundary": (
        _CAP_ROWS
        + [
            (6, "first copy A" + _EXACT24 + "B here padding abcdef"),
            (7, "second copy C" + _EXACT24 + "D there padding ghijk"),
        ],
        {6: 24, 7: 24},
        {3, 4},
    ),
}


@pytest.mark.parametrize("case", sorted(_PLANTED_REWRITES))
def test_gramgroup_rewrite_matches_oracle_on_planted_corpus(
    spark, tmp_path, case
):
    """dedup_span_rewrite_gramgroup equals the brute-force suffix-array
    oracle on planted shapes the synthetic corpus may not hit: a
    34-char block in two docs, repeats longer than the 64-char cap,
    pairs sharing a full 64-char prefix with different tails, an
    exact-suffix tie, sub-threshold repeats, and a repeat of exactly
    24 chars. Repeated regions are cut from every occurrence; unique
    docs pass through byte-identical."""
    import hashlib

    rows, cut, kept = _PLANTED_REWRITES[case]
    if case == "exact24_boundary":
        assert _longest_shared_prefix([r for r in rows if r[0] in cut]) == 24
    text = dict(rows)
    out = _oracle_rows(
        spark, _write_corpus(spark, tmp_path, rows), "dedup_span_rewrite_gramgroup"
    )
    for r in out.values():
        assert r.clean_chars == r.orig_chars - r.chars_removed
    for doc_id, n in cut.items():
        assert out[doc_id].chars_removed >= n
        md5 = hashlib.md5(text[doc_id].encode()).hexdigest()
        assert out[doc_id].clean_md5 != md5
    for doc_id in kept:
        assert out[doc_id].n_spans_removed == 0
        md5 = hashlib.md5(text[doc_id].encode()).hexdigest()
        assert out[doc_id].clean_md5 == md5


def test_delta_rewrite_sees_base_repeats(spark):
    """A delta doc sharing a >=24-char block ONLY with a BASE doc must
    still have it cut: span_rewrite_batch credits batch positions
    against the base index's gram groups, and rewrites only the
    batch."""
    from streamlit_flink_demo_spark.operators.suffix import (
        gram_positions,
        span_rewrite_batch,
    )

    block = "the shared thirty-char block!!!!"  # 32 chars
    schema = "doc_id bigint, text string"
    base = spark.createDataFrame(
        [(1, "base text holds " + block + " and more words")], schema
    )
    delta = spark.createDataFrame(
        [(2, "delta arrival with " + block + " trailing text")], schema
    )
    out = {
        r.doc_id: r
        for r in span_rewrite_batch(delta, gram_positions(base)).collect()
    }
    assert set(out) == {2}  # only the arriving doc is rewritten
    assert out[2].chars_removed >= len(block)
    assert block not in out[2].clean_text


def test_capsort_contamination_on_planted_eval_copy(spark, tmp_path):
    """contamination_capsort_exact equals the brute-force suffix-array
    oracle on a planted corpus: an eval doc copied verbatim from a
    train doc reports max_train_match = min(len, cap); a unique eval
    doc stays below the 24-char threshold. doc_ids are picked so the
    90/10 hash split puts them on the intended sides. AQE would
    coalesce the tiny input's range partitions into one; with
    coalescing off it spans several (asserted), so the nearest-train
    scan's cross-partition boundary fill runs."""
    from streamlit_flink_demo_spark.functions.hashing import u60

    # find concrete ids on each side of the split
    ids = spark.createDataFrame(
        [(i,) for i in range(1, 400)], "doc_id bigint"
    ).select(
        "doc_id", (u60(F.col("doc_id").cast("string")) % 100).alias("b")
    )
    rows_b = {r.doc_id: r.b for r in ids.collect()}
    train_ids = [i for i, b in rows_b.items() if b < 90][:2]
    eval_ids = [i for i, b in rows_b.items() if b >= 90][:2]
    assert len(train_ids) == 2 and len(eval_ids) == 2

    shared = "this exact sentence appears in a training document verbatim"
    rows = [
        (train_ids[0], shared + " plus trailing train only material"),
        (train_ids[1], "other unrelated training text entirely here"),
        (eval_ids[0], "eval preamble " + shared + " eval tail words"),
        (eval_ids[1], "wq zx vb nm completely novel eval only content"),
    ]
    d = _write_corpus(spark, tmp_path, rows)
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    prior = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        n_parts = (
            spark.range(sum(len(t) for _, t in rows))
            .repartitionByRange("id")
            .select(F.spark_partition_id())
            .distinct()
            .count()
        )
        assert n_parts > 1, "the boundary fill needs several range partitions"
        out = _oracle_rows(spark, d, "contamination_capsort_exact")
    finally:
        spark.conf.set(coalesce, prior)
    assert set(out) == set(eval_ids)
    assert out[eval_ids[0]].max_train_match >= min(len(shared), _LCP_CAP)
    assert out[eval_ids[0]].n_contaminated_positions > 0
    assert out[eval_ids[1]].max_train_match < 24
    assert out[eval_ids[1]].n_contaminated_positions == 0


def test_capsort_contamination_ranks_skip_the_group_exchange(
    spark, sf_dir, monkeypatch
):
    """(doc_id, p) is unique per position, so contamination_capsort_exact
    ranks its windows with unique=True: its plan has one Exchange fewer
    than the same query ranked as if keys could tie."""
    import re

    from streamlit_flink_demo_spark.operators import suffix

    def exchanges() -> int:
        df = suffix.contamination_capsort_exact(spark, sf_dir)
        p = spark.sparkContext._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        return len(re.findall(r"\(\d+\) Exchange\b", p))

    unique = exchanges()
    rank = suffix._global_group_rank
    monkeypatch.setattr(
        suffix,
        "_global_group_rank",
        lambda df, keys, **kw: rank(df, keys, **{**kw, "unique": False}),
    )
    assert exchanges() == unique + 1


def test_longest_repeat_on_planted_duplicates(spark, tmp_path):
    """Duplicate documents: every position's suffix recurs verbatim,
    so max_repeat = min(doc_len, cap); a unique-text doc's repeats
    stay short."""
    from streamlit_flink_demo_spark.plans import REGISTRY

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "zq xv jk wp mn bf unique gibberish entirely elsewhere absent"),
    ]
    d = _write_corpus(spark, tmp_path, rows)
    out = {
        r.doc_id: (r.max_repeat, r.n_long_positions)
        for r in REGISTRY["corpus_longest_repeat"].fn.__wrapped__(
            spark, d
        ).collect()
    }
    cap = min(len(rows[0][1]), _LCP_CAP)
    assert out[1][0] == cap and out[2][0] == cap
    assert out[1][1] > 0  # long duplicated positions detected
    assert out[3][0] < 24  # unique doc: no long repeat
    assert out[3][1] == 0


def test_suffix_artifact_roundtrip_freshness_force(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The persisted suffix-index artifact: (1) reload is bit-identical
    to an in-session construction, (2) a second build with matching
    fingerprint+params is a no-op reuse, (3) --force republishes."""
    import os

    from streamlit_flink_demo_spark.operators import similarity as sim
    from streamlit_flink_demo_spark.operators.suffix import (
        build_suffix_index,
        load_suffix_index,
        suffix_ranks,
    )
    from streamlit_flink_demo_spark.sources.catalog import load_table

    monkeypatch.setattr(sim, "_ARTIFACT_ROOT", str(tmp_path))
    out = build_suffix_index(spark, sf_dir)
    got = {
        (r.doc_id, r.p): r.sa_rank
        for r in load_suffix_index(spark, sf_dir).collect()
    }
    fresh = {
        (r.doc_id, r.p): r.sa_rank
        for r in suffix_ranks(
            load_table(spark, sf_dir, "documents"), spark
        ).collect()
    }
    assert got == fresh

    v1 = os.path.realpath(out)
    assert build_suffix_index(spark, sf_dir) == out
    assert os.path.realpath(out) == v1, "fresh artifact must be reused"

    build_suffix_index(spark, sf_dir, force=True)
    assert os.path.realpath(out) != v1, "--force must republish"


def test_suffix_artifact_serves_adjacency_reads(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The artifact's reason to exist: rank-adjacency consumers read it
    instead of rebuilding. Recompute corpus_longest_repeat's per-doc
    max LCP from the DISK artifact and demand equality with the
    memo-construction path."""
    from pyspark.sql import functions as F

    from streamlit_flink_demo_spark.operators import similarity as sim
    from streamlit_flink_demo_spark.operators.suffix import (
        _LCP_CAP,
        _lcp_expr,
        corpus_longest_repeat,
        load_suffix_index,
    )
    from streamlit_flink_demo_spark.sources.catalog import load_table

    monkeypatch.setattr(sim, "_ARTIFACT_ROOT", str(tmp_path))
    docs = load_table(spark, sf_dir, "documents")
    sa = load_suffix_index(spark, sf_dir)
    with_txt = sa.join(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        "p",
        "sa_rank",
        F.col("text").substr(F.col("p") + 1, F.lit(_LCP_CAP)).alias("s64"),
    )
    a = with_txt.alias("a")
    b = with_txt.select(
        (F.col("sa_rank") - 1).alias("prev_rank"),
        F.col("doc_id").alias("b_doc"),
        F.col("p").alias("b_p"),
        F.col("s64").alias("b_s64"),
    )
    pairs = a.join(b, F.col("a.sa_rank") == F.col("prev_rank")).select(
        F.col("a.doc_id").alias("a_doc"),
        "b_doc",
        _lcp_expr(F.col("a.s64"), F.col("b_s64")).alias("lcp"),
    )
    credited = pairs.select(
        F.col("a_doc").alias("doc_id"), "lcp"
    ).unionAll(pairs.select(F.col("b_doc").alias("doc_id"), "lcp"))
    from_disk = {
        r["doc_id"]: r["mx"]
        for r in credited.groupBy("doc_id")
        .agg(F.max("lcp").alias("mx"))
        .collect()
    }
    from_memo = {
        r["doc_id"]: r["max_repeat"]
        for r in corpus_longest_repeat(spark, sf_dir).collect()
    }
    assert from_disk == from_memo


def _credited_max_lcp(order_key, rows, cap):
    """Per-position credited repeat length from adjacent pairs in the
    given sort order: sort (key, doc, p), credit both endpoints of
    every adjacent pair with their common-prefix length."""
    seq = sorted(rows, key=order_key)
    best: dict[tuple[int, int], int] = {}
    for (k1, d1, p1), (k2, d2, p2) in zip(seq, seq[1:]):
        cp = 0
        for a, b in zip(k1[:cap], k2[:cap]):
            if a != b:
                break
            cp += 1
        for key in ((d1, p1), (d2, p2)):
            best[key] = max(best.get(key, 0), cp)
    return best


def test_capped_order_equivalence_property():
    """The mathematical core of contamination_capsort_exact (one sort
    of the capped windows instead of the suffix array), pinned by
    property test: for random corpora over a tiny alphabet (maximally tied
    suffixes), per-position max-LCP capped at C is IDENTICAL whether
    adjacency comes from FULL suffix order or from the C-char-window
    order. Tiny alphabet + short cap stresses ties, cap saturation,
    and prefix-of-another suffixes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    cap = 4  # tiny cap => saturation is common

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="ab", min_size=1, max_size=12),
            min_size=1,
            max_size=5,
        )
    )
    def run(texts):
        rows = [
            (t[p:], d, p)
            for d, t in enumerate(texts)
            for p in range(len(t))
        ]
        full = _credited_max_lcp(lambda r: r, rows, cap)
        capped_rows = [(s[:cap], d, p) for s, d, p in rows]
        capped = _credited_max_lcp(lambda r: r, capped_rows, cap)
        assert {k: min(v, cap) for k, v in full.items()} == capped

    run()


def test_gramgroup_threshold_equivalence_property():
    """The claim behind _credit_gram_groups, property-tested without
    Spark:
    crediting ONLY within exact T-char-prefix groups (in-group sorted
    adjacency) recovers exactly the positions whose global capped
    max-LCP >= T, with exactly that max value. Random two-letter
    corpora; T=2, cap=4 make group collisions and boundary hits
    common."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    cap, t = 4, 2

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="ab", min_size=1, max_size=12),
            min_size=1,
            max_size=5,
        )
    )
    def run(texts):
        rows = [
            (txt[p:], d, p)
            for d, txt in enumerate(texts)
            for p in range(len(txt))
        ]
        full = _credited_max_lcp(lambda r: r, rows, cap)
        want = {k: v for k, v in full.items() if v >= t}
        # gram-group: bucket by exact t-prefix (len >= t only), credit
        # within each bucket's sorted order
        groups: dict[str, list] = {}
        for s, d, p in rows:
            if len(s) >= t:
                groups.setdefault(s[:t], []).append((s, d, p))
        got = {}
        for members in groups.values():
            if len(members) < 2:
                continue
            for k, v in _credited_max_lcp(
                lambda r: r, members, cap
            ).items():
                if v >= t:
                    got[k] = max(got.get(k, 0), v)
        assert got == want

    run()


def test_suffix_artifact_document_takedown(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Deleting a document from the persisted SA artifact removes its
    suffix rows from every later read, and the SURVIVING rows' rank
    ORDER equals a fresh build over the survivors (values keep gaps —
    sound for adjacency consumers); compaction drops the rows
    physically with the order preserved."""
    from streamlit_flink_demo_spark.operators import incremental as inc
    from streamlit_flink_demo_spark.operators import similarity as sim
    from streamlit_flink_demo_spark.operators.suffix import (
        build_suffix_index,
        load_suffix_index,
        suffix_ranks,
    )
    from streamlit_flink_demo_spark.sources.catalog import load_table

    monkeypatch.setattr(sim, "_ARTIFACT_ROOT", str(tmp_path))
    path = build_suffix_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    victim = docs.select(F.min("doc_id").alias("doc_id"))
    victim_id = victim.collect()[0]["doc_id"]

    inc.tombstone_keys(path, "del:victim", victim, key_col="doc_id")

    def order_of(df):
        return [
            (r.doc_id, r.p)
            for r in df.orderBy("sa_rank", "doc_id", "p").collect()
        ]

    live = order_of(load_suffix_index(spark, sf_dir))
    assert all(d != victim_id for d, _ in live)
    fresh = order_of(
        suffix_ranks(docs.filter(F.col("doc_id") != victim_id), spark)
    )
    assert live == fresh  # relative order == fresh survivors' build

    assert inc.compact_index(spark, path, (), ("sa_rank",)) is True
    assert order_of(load_suffix_index(spark, sf_dir)) == fresh


def test_global_group_rank_values_and_plan(spark):
    """r14 pin for the _global_group_rank rewrite (VERDICT r13 item 2):
    (a) ranks still equal the count of strictly-smaller keys for tied
    and untied keys alike; (b) the within-partition index comes from a
    monotonically_increasing_id over a PARTITION-LOCAL sort — no
    Exchange at all on the unique-key path, exactly one (the
    min-over-key-group hash exchange) otherwise. If Catalyst ever
    eliminated the local sort under the id projection, (a) would fail
    loudly (the id would number rows in checkpoint-block order)."""
    import re

    from streamlit_flink_demo_spark.operators.suffix import (
        _global_group_rank,
    )

    def plan(df):
        sc = df.sparkSession.sparkContext
        return sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    rows = [(k, i) for i, k in enumerate("babcaacbadb")]
    df = spark.createDataFrame(rows, "k string, tie int")

    # non-unique keys: rank = #strictly smaller, shared across a group
    got = {
        (r.k, r.tie): r.rank
        for r in _global_group_rank(df, ["k"]).collect()
    }
    ks = sorted(k for k, _ in rows)
    expect = {(k, t): ks.index(k) for k, t in rows}
    assert got == expect
    p = plan(_global_group_rank(df, ["k"]))
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p
    assert "monotonically_increasing_id" in p

    # unique keys: rank = global index, zero exchanges after the
    # (pre-checkpoint) range sort
    uq = _global_group_rank(df, ["k", "tie"], unique=True)
    got_u = {(r.k, r.tie): r.rank for r in uq.collect()}
    order = sorted(rows)
    assert got_u == {kt: i for i, kt in enumerate(order)}
    pu = plan(_global_group_rank(df, ["k", "tie"], unique=True))
    assert len(re.findall(r"\(\d+\) Exchange\b", pu)) == 0, pu
    # the id projection must sit directly above a partition-local Sort
    sorts = re.findall(r"\(\d+\) Sort\b", pu)
    assert len(sorts) >= 1
    assert "global=false" in pu.lower() or "], false," in pu


def test_indexed_repeat_probe_parity_after_boundary_tombstone(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r13 ADVICE (medium): _adjacent_sa_pairs' ghost-row bucketing
    keys on rank VALUES, so a tombstone that removes a bucket-boundary
    rank (sa_rank % _ADJ_BUCKET == 0) must not drop the cross-bucket
    adjacent-survivor pair. Tombstone the document that OWNS a boundary
    rank and demand the artifact probe equals a fresh longest-repeat
    computation over the survivors. The boundary row must exist (the
    sf0.001 corpus spans many buckets); without it the tombstone would
    miss the boundary and the test would pass without testing it."""
    from streamlit_flink_demo_spark.operators import incremental as inc
    from streamlit_flink_demo_spark.operators import similarity as sim
    from streamlit_flink_demo_spark.operators.suffix import (
        _ADJ_BUCKET,
        _longest_repeat_from_sa,
        build_suffix_index,
        load_suffix_index,
        suffix_ranks,
    )
    from streamlit_flink_demo_spark.plans import REGISTRY
    from streamlit_flink_demo_spark.sources.catalog import load_table

    monkeypatch.setattr(sim, "_ARTIFACT_ROOT", str(tmp_path))
    path = build_suffix_index(spark, sf_dir)
    sa = load_suffix_index(spark, sf_dir)
    boundary = (
        sa.filter(
            (F.col("sa_rank") % _ADJ_BUCKET == 0) & (F.col("sa_rank") > 0)
        )
        .select("doc_id")
        .limit(1)
        .collect()
    )
    assert boundary, f"corpus has no rank at a {_ADJ_BUCKET}-rank bucket boundary"
    victim_id = boundary[0]["doc_id"]
    docs = load_table(spark, sf_dir, "documents")
    inc.tombstone_keys(
        path,
        "del:boundary",
        docs.filter(F.col("doc_id") == victim_id).select("doc_id"),
        key_col="doc_id",
    )

    probe = REGISTRY["corpus_longest_repeat_indexed"].fn.__wrapped__(
        spark, sf_dir
    )
    got = {
        r.doc_id: (r.max_repeat, r.n_long_positions)
        for r in probe.collect()
    }
    survivors = docs.filter(F.col("doc_id") != victim_id)
    expect = {
        r.doc_id: (r.max_repeat, r.n_long_positions)
        for r in _longest_repeat_from_sa(
            survivors, suffix_ranks(survivors, spark)
        ).collect()
    }
    assert got == expect
