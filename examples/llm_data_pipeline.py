"""End-to-end LLM training-data pipeline demo (round 9).

Chains the engine's pipeline stages the way a production corpus run
composes them — every stage is the registered operator itself (same
code the driver's oracle gate checks), wired over one SparkSession:

    documents
      0. extraction          docs_extract_text (round 12 — the
                             first-mile HTML/boilerplate stage; the
                             corpus fixture is already-extracted text,
                             so the stage runs on the synthetic HTML
                             wrapping and reports line yield)
      1. quality gate        text_quality_stats (stopword/length gates)
      2. exact dedup         dedup_exact keep-first
      3. near-dup dedup      dedup_minhash_lsh (banded candidates)
      4. embed               docs_embed (hash-projection encoder;
                             swap encode_documents(...) for the real
                             sentence-transformers tier in prod)
      5. semantic dedup      docs_embed_semdedup summary
      6. similar-doc search  docs_embed_search (top-k per probe doc)
      7. contamination gate  contamination_capsort_exact (exact
                             train->eval leakage over one sort of
                             the 64-char suffix windows)
      8. language mix        docs_lang_temperature_mix (UniMax-style
                             alpha=0.5 recipe for the loader)
      9. shard               sinks.write_training_shards (deterministic
                             order, resumable)

Run:  python examples/llm_data_pipeline.py [sf_dir]
(defaults to /root/testdata/sf0.001; prints stage row counts and the
shard layout, writes shards under /tmp/llm_pipeline_shards)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from streamlit_flink_demo_spark import sinks  # noqa: E402
from streamlit_flink_demo_spark.plans import load_all  # noqa: E402
from streamlit_flink_demo_spark.session import get_spark  # noqa: E402
from streamlit_flink_demo_spark.sources.catalog import load_table  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("llm_pipeline_demo")
    reg = load_all(exposed_only=False)
    docs = load_table(spark, sf_dir, "documents")
    print(f"corpus: {docs.count()} documents ({sf_dir})")

    # 0. extraction: the first-mile stage — strip markup/boilerplate
    # from the (synthetic) HTML wrapping; downstream stages consume
    # the corpus text exactly as a WARC pipeline would consume the
    # extractor's output
    extracted = reg["docs_extract_text"].fn(spark, sf_dir)
    yield_row = extracted.agg(
        F.sum("n_lines_raw").alias("raw"),
        F.sum("n_lines_kept").alias("kept"),
    ).first()
    print(
        f"extraction: kept {yield_row['kept']}/{yield_row['raw']} "
        "content lines (boilerplate filtered)"
    )

    # 1. quality gate: keep docs with sane stopword ratio + length
    quality = reg["text_quality_stats"].fn(spark, sf_dir)
    kept_q = quality.filter(
        (F.col("stopword_ratio") >= 0.05) & (F.col("n_tokens") >= 8)
    ).select("doc_id")
    print(f"after quality gate: {kept_q.count()}")

    # 1b. CCNet perplexity gate (round 10, third session): tercile
    # the corpus by bigram-LM NLL, keep head/middle/tail at 100/50/10%
    ccnet = reg["docs_ccnet_buckets"].fn(spark, sf_dir)
    print("ccnet perplexity gate (bucket: n_docs -> n_kept):")
    for r in ccnet.orderBy("min_nll").collect():
        print(f"  {r.bucket}: {r.n_docs} -> {r.n_kept}")

    # 2. exact dedup: keep each content group's keeper only
    # (dedup_exact reports the groups; the keeper set is its
    # keeper_doc_id column)
    keepers = (
        reg["dedup_exact"].fn(spark, sf_dir)
        .select(F.col("keeper_doc_id").alias("doc_id"))
        .distinct()
    )
    kept_e = kept_q.join(keepers, "doc_id")
    print(f"after exact dedup: {kept_e.count()}")

    # 3. near-dup dedup: MinHash-LSH pairs -> drop the higher id
    pairs = reg["dedup_minhash_lsh"].fn(spark, sf_dir)
    near_dupes = pairs.select(
        F.greatest("doc_a", "doc_b").alias("doc_id")
    ).distinct()
    kept_n = kept_e.join(near_dupes, "doc_id", "left_anti")
    print(f"after near-dup dedup: {kept_n.count()}")

    # 3b. new-bytes monitor (round 11): how much of the arriving 10%
    # slice is content the standing corpus already stores, at
    # content-defined-chunk granularity (shift-invariant)
    cdc = reg["dedup_cdc_incremental"].fn(spark, sf_dir)
    agg = cdc.agg(
        F.count("*").alias("n"),
        F.sum("dup_chars").alias("dup"),
        F.sum((F.col("dup_frac_r") >= 0.5).cast("int")).alias("mostly"),
    ).first()
    print(
        f"cdc new-bytes monitor: {agg['n']} arriving docs, "
        f"{int(agg['dup'] or 0)} chars already stored, "
        f"{int(agg['mostly'] or 0)} docs >=50% known content"
    )

    # 3b. exact repeated-SPAN removal (round 10): cuts >=24-char
    # corpus-repeated regions inside surviving docs — doc-level dedup
    # can't see these (Lee et al. 2022). Positions are grouped by
    # their exact 24-char prefix (one hash exchange, no suffix array)
    # and checked against the brute-force suffix-sort oracle.
    span_rw = reg["dedup_span_rewrite_gramgroup"].fn(spark, sf_dir)
    cut = span_rw.agg(
        F.sum("chars_removed").alias("chars"),
        F.sum("n_spans_removed").alias("spans"),
    ).first()
    print(f"exact span removal (gram-group): {cut['spans']} repeated "
          f"spans ({cut['chars']} chars) cut across the corpus")

    # 4-5. embed + semantic dedup summary (encoder runs inside both)
    sem = reg["docs_embed_semdedup"].fn(spark, sf_dir)
    dropped = sem.agg(F.sum("n_dropped")).first()[0]
    print(f"semantic dedup would drop {dropped} more across "
          f"{sem.count()} sign-buckets")

    # 6. similar-document search over the surviving text
    topk = reg["docs_embed_search"].fn(spark, sf_dir)
    print("sample similar-doc results (q_id -> best match):")
    for r in topk.filter(F.col("rk") == 1).orderBy("q_id").collect():
        print(f"  q{r.q_id} -> doc {r.doc_id} (cos {r.cos_sim:.3f})")

    # 6b. hybrid retrieval (round 10, third session): the same corpus
    # served lexically+semantically, fused by reciprocal-rank fusion
    hy = reg["docs_hybrid_search_rrf"].fn(spark, sf_dir)
    print("hybrid RRF top-3 (doc: lex-rank / sem-rank):")
    for r in hy.filter(F.col("fused_rank") <= 3).orderBy("fused_rank").collect():
        print(f"  doc {r.doc_id}: lex {r.lex_rank or '-'} / "
              f"sem {r.sem_rank or '-'} (rrf {r.rrf_r:.4f})")

    # 6c. diversity pick: greedy k-center seed set (e.g. for a
    # labeling/eval panel that should span the embedding space)
    kc = reg["docs_kcenter_diverse"].fn(spark, sf_dir)
    centers = [r.doc_id for r in kc.orderBy("sel_rank").collect()]
    print(f"k-center diversity picks (selection order): {centers}")

    # 7. eval-contamination gate (round 10 continuation): exact
    # train->eval leakage (longest shared substring, capped at 64
    # chars) — the release check that runs before the eval split is
    # frozen
    contam = reg["contamination_capsort_exact"].fn(spark, sf_dir)
    n_leaky = contam.filter(F.col("n_contaminated_positions") > 0).count()
    print(f"contamination gate: {n_leaky} eval docs share a >=24-char "
          f"span with train (of {contam.count()} eval docs)")

    # 7b. leakage-safe split: the frozen train/eval boundary runs on
    # near-dup CLUSTER labels, so no near-duplicate pair straddles it
    print("leakage-safe split (by near-dup cluster):")
    ls = reg["docs_leakage_safe_split"].fn(spark, sf_dir)
    for r in ls.orderBy("split").collect():
        print(f"  {r.split}: {r.n_docs} docs in {r.n_clusters} clusters "
              f"(largest {r.max_cluster_size})")

    # 8. language-mix recipe for the loader (UniMax-style alpha=0.5)
    mix = reg["docs_lang_temperature_mix"].fn(spark, sf_dir)
    print("temperature language mix (lang: n_docs -> expected_kept):")
    for r in mix.orderBy("lang").collect():
        print(f"  {r.lang}: {r.n_docs} -> {r.expected_kept} "
              f"(rate {r.rate:.3f})")

    # 9. deterministic training shards of the surviving docs
    out = "/tmp/llm_pipeline_shards"
    surviving = docs.join(kept_n, "doc_id")
    sinks.write_training_shards(surviving, out, n_shards=4)
    per_shard = (
        spark.read.parquet(out).groupBy("shard").count().orderBy("shard")
    )
    print("shards written:", [(r.shard, r["count"]) for r in per_shard.collect()])
    return 0


if __name__ == "__main__":
    sys.exit(main())
