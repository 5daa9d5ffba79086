#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the headline queries."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

HEADER = """# PLANS — physical plans of the headline queries

Generated with `df.explain(mode="formatted")` at sf0.01 under the engine
session. What to look for: `PushedFilters` / pruned `ReadSchema` on every
scan, `BroadcastHashJoin` where a small side exists, `WholeStageCodegen`
spans over the expression-heavy stages, and the absence of
`CartesianProduct` / single-partition `Window` nodes. Regenerate with
`python tools/dump_plans.py`.

Skew: the engine session runs with AQE + skew-join enabled, so oversized
shuffle partitions in any of these joins are split at runtime
(`tests/test_skew_and_materialize.py::test_aqe_skew_join_splits_hot_partition`
proves the mechanism engages on a 90%-one-key join, with `skew=true` in
the final adaptive plan); `operators/skew.salted_join` stays as the
manual fallback for join shapes AQE can't rewrite.
"""


#: The audit sections (sf1 passes, bench-anomaly notes) evolve by
#: round and are kept in tools/plans_footer.md so regeneration
#: preserves them.
def _footer() -> str:
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "plans_footer.md"), encoding="utf-8") as fh:
        return fh.read()



def main() -> None:
    from scraping_etl_spark.plans import corpus_ops as C
    from scraping_etl_spark.plans import curation_ops as CR
    from scraping_etl_spark.plans import ml_ops as M
    from scraping_etl_spark.plans import pipeline_ops as P
    from scraping_etl_spark.plans import relational as R
    from scraping_etl_spark.plans import screen_ops as SC
    from scraping_etl_spark.plans import star_ops as ST
    from scraping_etl_spark.session import get_spark

    picks = [
        ("revenue_by_nation", R.q_revenue_by_nation,
         "4-way join: fact shuffles on keys once, nation/region broadcast, agg partial"),
        ("pricing_summary", R.q_pricing_summary,
         "single-scan grouped agg: map-side partial, 4-column pruned read"),
        ("top_customers", R.q_top_customers,
         "top-k as TakeOrderedAndProject (no single-partition window)"),
        ("asof_purchase_click", P.q_asof_purchase_click,
         "as-of join: one shuffle on (user, ts), no range explosion"),
        ("doc_minhash_pairs", M.q_doc_minhash_pairs,
         "per-row MinHash signatures, banded LSH equi-join, no cross join"),
        ("emb_ann_topk", M.q_emb_ann_topk,
         "LSH bucket equi-join with multi-probe; no cartesian"),
        ("emb_ivf_topk", M.q_emb_ivf_topk,
         "IVF: centroid literals in-plan, per-row nearest-list assignment, "
         "hash equi-join on cluster id"),
        ("doc_token_bridge", M.q_doc_token_bridge,
         "explode + broadcast dim join (J2/J3 shape)"),
        ("doc_neardup_clusters", M.q_doc_neardup_clusters,
         "iterative connected components: the visible plan is the FINAL "
         "round's labels over a localCheckpoint scan — each of the "
         "O(diameter) rounds was one equi-join + one partial-agg groupBy, "
         "its lineage deliberately truncated (un-truncated, plan analysis "
         "alone OOMs the driver at ~12 rounds)"),
        ("doc_neardup_survivors", M.q_doc_neardup_survivors,
         "pairs -> clusters -> min-id survivor left-join (singletons kept "
         "via coalesce) -> per-language rollup"),
        ("doc_corpus_profile", M.q_doc_corpus_profile,
         "exact distinct counts: single scan, partial-agg before the "
         "lang shuffle (HLL twin shares the shape minus the distinct)"),
        ("doc_repetition_stats", C.q_doc_repetition_stats,
         "zero-shuffle corpus-quality signals: modal-bigram via per-row "
         "sorted-run fold — a single projection, no Exchange anywhere"),
        ("doc_domain_mix", C.q_doc_domain_mix,
         "deterministic stratified sampling: map-side md5-bucket filter, "
         "zero shuffle at any scale"),
        ("event_interval_join", C.q_event_interval_join,
         "bucketed range join: interval explode + hash equi-join on "
         "(user, day-bucket) + residual range filter — no "
         "BroadcastNestedLoopJoin/CartesianProduct"),
        ("doc_vocab_topk", C.q_doc_vocab_topk,
         "vocab build: partial-agg token counts, TakeOrderedAndProject "
         "top-k, rank window only over the k survivors"),
        ("doc_corpus_pipeline", C.q_doc_corpus_pipeline,
         "whole prep pipeline in one plan: zero-shuffle scrub + "
         "repetition signals, broadcast decontamination gram join, "
         "map-side mix filter, one per-stratum packing window"),
        ("doc_pack_sequences", C.q_doc_pack_sequences,
         "sharded packing: ONE exchange — the (stratum, md5-shard) "
         "window repartition; no whole-stratum window partition"),
        ("doc_lm_score", C.q_doc_lm_score,
         "corpus-bigram LM: branches share the (doc, gram) pair "
         "exchange; hot grams broadcast; vocab-size attach is a "
         "BroadcastHashJoin on a non-foldable key, never BNLJ"),
        ("doc_cross_corpus_dups", M.q_doc_cross_corpus_dups,
         "incremental dedup screen: new-vs-ref band-hash equi-join, "
         "never all-pairs"),
        ("doc_stratified_sample", C.q_doc_stratified_sample,
         "bottom-N-by-hash eval sample: two tournament windows, "
         "stage-1 keyed by (stratum, salt) — no whole-stratum sort"),
        ("doc_length_quantiles", C.q_doc_length_quantiles,
         "exact quantiles: input collapses to a value histogram before "
         "any window — the CDF walks distinct values, not rows"),
        ("emb_cluster_assign", M.q_emb_cluster_assign,
         "semantic clustering: centroid literals in-plan, per-row "
         "argmin, ZERO exchanges"),
        ("doc_bm25", CR.q_doc_bm25,
         "BM25 retrieval: postings explode+agg (the one posting "
         "exchange is shared by df/consts/score branches), idf joined "
         "to the broadcast query side, sorted-term score fold, "
         "per-query rank window — no BNLJ"),
        ("doc_dup_passages", CR.q_doc_dup_passages,
         "duplicate passages: positional gram explode, distinct "
         "(gram, doc) partial agg, checkpointed dup-gram mark join, "
         "per-document islands window (doc-length bounded)"),
        ("emb_semantic_dedup", CR.q_emb_semantic_dedup,
         "SemDeDup: unit-normalized centroid assignment map-side, "
         "within-cluster equi-join pairs, greedy anti-join survivors "
         "— pairwise cost bounded by cluster size, never corpus-wide"),
        ("doc_quality_classifier", CR.q_doc_quality_classifier,
         "quality classifier scoring: learned weights as plan "
         "constants, sigmoid projection — ZERO exchanges"),
        ("doc_dsir_weights", CR.q_doc_dsir_weights,
         "DSIR: two LM scorings (target reference-mode, raw self-mode) "
         "joined at document cardinality"),
        ("event_funnel", R.q_event_funnel,
         "ordered funnel: ONE user-hash exchange feeds three adjacent "
         "Window operators — a funnel step adds a Window node, not a "
         "pass over the log"),
        ("supplier_sole_late", R.q_supplier_sole_late,
         "Q21 shape: EXISTS/NOT EXISTS decorrelated to left-semi/"
         "left-anti on the shared orderkey partitioning"),
        ("doc_kn_lm", C.q_doc_kn_lm,
         "Kneser-Ney LM: context/continuation tables are aggregates of "
         "the checkpointed distinct-gram relation; scored join reuses "
         "the lm_score hot/cold split"),
        ("doc_hashed_classifier", CR.q_doc_hashed_classifier,
         "hashed-bag-of-words classifier scoring: idf + weights frozen "
         "as plan constants, (doc, slot) partial agg + fixed-point "
         "sparse dot — no corpus-scale statistics pass at deployment"),
        ("emb_kmeans_train", M.q_emb_kmeans_train,
         "distributed k-means final assignment: trained centroids as "
         "plan constants, per-row argmin, ZERO exchanges (training = "
         "4 map-side assign + k*d-bounded partial-agg rounds)"),
        ("doc_allpairs", SC.q_doc_allpairs,
         "exact similarity join: explode, df-count, rarest-first "
         "prefix slice, prefix-token equi-join carrying the PPJoin "
         "length predicate (min >= t*max) AND the positional row "
         "bound, pair groupBy (replacing distinct) with the tight "
         "min-position cap, id-keyed verify — no BNLJ/cartesian at "
         "any threshold"),
        ("star_pipeline", ST.q_star_pipeline,
         "one-job star build: build_star localCheckpoints the cleaned "
         "relation once, so every rollup branch scans the checkpoint "
         "instead of re-running the cleaning chain; the fact and bridges "
         "hash their surrogate keys in place (no BroadcastHashJoin)"),
        ("doc_lang_id_ngram", P.q_doc_lang_id_ngram,
         "Cavnar-Trenkle n-gram language ID: one explode feeding a "
         "checkpointed (doc, gram) count relation, array-side doc "
         "ranking (no per-doc window), vocabulary-bounded trainer "
         "window, broadcast profile + zero-key language joins, "
         "min(struct) argmin — see the plans_footer O(len^2) lambda-"
         "inlining finding"),
        ("train_export_pipeline", C.q_train_export_pipeline,
         "tokenize-side export composition: dedup partial-agg + semi "
         "join into one localCheckpoint spine; encode = broadcast seg/"
         "vocab joins + ONE token-cardinality reassembly shuffle; "
         "packing = one shard-bounded window over slim (id, n_ids, "
         "ids_sum) rows; shuffled shards = one hash exchange + "
         "task-sized per-shard sorts"),
        ("doc_cdc_chunks", C.q_doc_cdc_chunks,
         "content-defined chunking: boundaries + chunks are per-doc "
         "array expressions (zero shuffle to chunk); stats ride the "
         "chunk_dedup hot/cold broadcast decomposition"),
        ("doc_unigram_tokens", C.q_doc_unigram_tokens,
         "unigram-LM tokenize: trained model as broadcast word-"
         "segmentation cache, explode + left join + partial-agg "
         "groupBy — corpus touched once, Viterbi only at vocabulary "
         "scale"),
        ("doc_media_dedup", M.q_doc_media_dedup,
         "binary-asset near-dup: per-row byte-chunk SimHash (one-pass "
         "vote aggregate, zero shuffle), 4-band Hamming-ball self-"
         "join, id-keyed verify carrying two longs"),
        ("doc_cdc_screen", C.q_doc_cdc_screen,
         "CDC ingest screen: per-doc chunking (zero shuffle), "
         "distinct (doc, chunk) partial agg, guarded-broadcast "
         "membership join vs the prepared lake store, per-doc rollup"),
        ("er_pipeline", M.q_er_pipeline,
         "entity resolution: AllPairs-filtered fuzzy pairs feed the "
         "hash-min component rounds (per-round localCheckpoint), "
         "min-id canonical via one labeled join + size rollup"),
    ]

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    sections = [HEADER]
    for name, fn, why in picks:
        df = fn(spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        sections.append(f"## {name}\n\n*{why}*\n\n```\n{plan.strip()}\n```\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w", encoding="utf-8") as fh:
        fh.write("\n".join(sections + [_footer()]))
    print(f"PLANS.md: {len(picks)} sections")


if __name__ == "__main__":
    main()
