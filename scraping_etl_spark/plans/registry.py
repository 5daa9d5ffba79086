"""Central registry of (query, oracle) pairs — feeds ``__spark_entry__``.

Each entry pairs a query ``fn(spark, sf_dir) -> DataFrame`` with a
DuckDB oracle over the same parquet tables. The oracle contract: the
query's rows equal the oracle's as a multiset (columns matched by name,
doubles rounded identically on both sides), whatever the scale dir.
``tests/test_relational_queries.py`` checks every entry at sf0.001 and
``tools/local_correctness.py`` at sf0.01. Entries are served in
registration order.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from scraping_etl_spark.plans import corpus_ops as C
from scraping_etl_spark.plans import curation_ops as CR
from scraping_etl_spark.plans import ml_ops as M
from scraping_etl_spark.plans import pipeline_ops as P
from scraping_etl_spark.plans import relational as R
from scraping_etl_spark.plans import screen_ops as SC
from scraping_etl_spark.plans import star_ops as SP

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    #: SQL string; or a callable taking the scale dir and building the
    #: SQL for it (used when the oracle embeds state trained at run
    #: time, e.g. IVF centroids, so it must be built for the same dir
    #: the query ran at).
    oracle: str | Callable[[str], str]
    description: str


_REGISTERED: list[QuerySpec] = [
    QuerySpec(
        "hourly_event_rollup", R.q_hourly_event_rollup, R.ORACLE_HOURLY_EVENT_ROLLUP,
        "tumbling-window rollup in batch form",
    ),
    QuerySpec(
        "doc_text_stats", P.q_doc_text_stats, P.ORACLE_DOC_TEXT_STATS,
        "token/char counts + diversity (text analysis), BPE-ish "
        "token counts (n_bpe_tokens + tokens_per_word)",
    ),
    QuerySpec(
        "doc_fingerprint", P.q_doc_fingerprint, P.ORACLE_DOC_FINGERPRINT,
        "bag-of-words md5 document fingerprint",
    ),
    QuerySpec(
        "doc_quality", P.q_doc_quality, P.ORACLE_DOC_QUALITY,
        "composite text quality score",
    ),
    QuerySpec(
        "string_functions", R.q_string_functions, R.ORACLE_STRING_FUNCTIONS,
        "scalar string surface F1/F4/F5/F8/F11 — built-ins only",
    ),
    QuerySpec(
        "json_props", R.q_json_props, R.ORACLE_JSON_PROPS,
        "JSON field extraction + agg (P1/F14)",
    ),
    QuerySpec(
        "event_lag_delta", R.q_event_lag_delta, R.ORACLE_EVENT_LAG_DELTA,
        "lag window per user plus the 7-row trailing moving average "
        "(mavg_7) on the identical window spec",
    ),
    QuerySpec(
        "doc_zip_bigrams", M.q_doc_zip_bigrams, M.ORACLE_DOC_ZIP_BIGRAMS,
        "positional zip_with pairing (J5)",
    ),
    QuerySpec(
        "order_date_roundtrip", M.q_order_date_roundtrip, M.ORACLE_ORDER_DATE_ROUNDTRIP,
        "'d MMMM yyyy' render/parse round-trip (F3)",
    ),
    QuerySpec(
        "event_type_pivot", R.q_event_type_pivot, R.ORACLE_EVENT_TYPE_PIVOT,
        "pivot to per-user event-type counts",
    ),
    QuerySpec(
        "orders_by_month", R.q_orders_by_month, R.ORACLE_ORDERS_BY_MONTH,
        "date-part extraction + rollup",
    ),
    QuerySpec(
        "union_counterparties", R.q_union_counterparties,
        R.ORACLE_UNION_COUNTERPARTIES, "unionByName + conditional agg (SURVEY U1)",
    ),
    QuerySpec(
        "orderkeys_except_open", R.q_orderkeys_except_open,
        R.ORACLE_ORDERKEYS_EXCEPT_OPEN, "EXCEPT / subtract (SURVEY U2)",
    ),
    QuerySpec(
        "doc_lm_score_ref", C.q_doc_lm_score_ref, C.ORACLE_DOC_LM_SCORE_REF,
        "reference-LM scoring (CCNet deployment shape): LM trained on a "
        "curated slice, the rest scored against it with unseen-gram "
        "smoothing floors (corpus_prep.with_lm_score(lm=...))",
    ),
    QuerySpec(
        "doc_stream_gates", C.q_doc_stream_gates, C.ORACLE_DOC_STREAM_GATES,
        "batch twin of the streaming ingest OOV + static-LM fluency "
        "gate chain (streaming/pipeline.corpus_prep_stream)",
    ),
    QuerySpec(
        "doc_bm25", CR.q_doc_bm25, CR.ORACLE_DOC_BM25,
        "BM25 keyword retrieval: top-5 docs for 5 fixed queries — "
        "postings explode+agg, idf on the broadcast query side, "
        "sorted-term deterministic score fold (operators/search.py)",
    ),
    QuerySpec(
        "doc_source_cap", CR.q_doc_source_cap, CR.ORACLE_DOC_SOURCE_CAP,
        "per-host document cap: keep the 10 longest docs per source "
        "via the two-stage salt tournament (curation.per_key_cap)",
    ),
    QuerySpec(
        "emb_semantic_dedup", CR.q_emb_semantic_dedup,
        CR.oracle_emb_semantic_dedup,
        "SemDeDup: cluster the unit sphere with train-once centroids, "
        "within-cluster cosine threshold, greedy min-id survivors "
        "(similarity.semantic_dedup_survivors; lazy oracle embeds the "
        "trained centroids)",
    ),
    QuerySpec(
        "doc_dup_passages", CR.q_doc_dup_passages, CR.ORACLE_DOC_DUP_PASSAGES,
        "sub-document duplicate-passage profile: cross-doc repeated "
        "token 5-grams, duplicated fraction + longest duplicated run "
        "(curation.duplicate_passage_stats)",
    ),
    QuerySpec(
        "doc_quality_classifier", CR.q_doc_quality_classifier,
        CR.oracle_doc_quality_classifier,
        "trainable logistic quality classifier: batch-GD training as "
        "DataFrame aggs, map-side sigmoid scoring with learned weights "
        "as plan constants (operators/classifier.py; lazy oracle)",
    ),
    QuerySpec(
        "doc_dsir_weights", CR.q_doc_dsir_weights, CR.ORACLE_DOC_DSIR_WEIGHTS,
        "DSIR importance log-weights: target-LM (curated slice, "
        "smoothing floors) minus raw-LM (pool self-score) per-bigram "
        "log-likelihood (curation.dsir_weights)",
    ),
    QuerySpec(
        "emb_decontaminate", M.q_emb_decontaminate, M.ORACLE_EMB_DECONTAMINATE,
        "embedding-space benchmark decontamination: corpus vectors "
        "within cosine tau of any benchmark vector, benchmark side "
        "broadcast behind the measured-count guard "
        "(similarity.embedding_decontaminate)",
    ),
    QuerySpec(
        "doc_temperature_mix", C.q_doc_temperature_mix,
        C.ORACLE_DOC_TEMPERATURE_MIX,
        "temperature-scaled (alpha-smoothed) per-source sampling rates "
        "+ deterministic md5-bucket downsample; rate denominator is a "
        "sorted sequential fold (corpus_prep.temperature_mix_sample)",
    ),
    QuerySpec(
        "dim_scd2", R.q_dim_scd2, R.ORACLE_DIM_SCD2,
        "SCD type-2 dimension merge: closed history passes through, "
        "identical re-deliveries no-op, changes close + append, new "
        "keys insert (etl/scd.scd2_merge)",
    ),
    QuerySpec(
        "doc_token_divergence", C.q_doc_token_divergence,
        C.ORACLE_DOC_TOKEN_DIVERGENCE,
        "per-language JS divergence between the md5-split halves' "
        "unigram distributions — fixed-point integer summation keeps "
        "the float total order-free (corpus_prep.token_divergence)",
    ),
    QuerySpec(
        "doc_length_quantiles_kll", C.q_doc_length_quantiles_kll,
        C.ORACLE_DOC_LENGTH_QUANTILES_KLL,
        "KLL-sketch quantile tier as a bounded-tolerance gate: exact "
        "quantiles hash-checked, sketch estimates' exact ranks "
        "asserted within 3x the documented rank error "
        "(corpus_prep.stratified_quantiles_sketch)",
    ),
    QuerySpec(
        "doc_url_canonical", P.q_doc_url_canonical, P.ORACLE_DOC_URL_CANONICAL,
        "URL canonicalization + crawl dedup: tracking params / default "
        "ports / fragments / case aliasing normalized JVM-side; the "
        "oracle derives canonical forms independently "
        "(operators/urls.py)",
    ),
    QuerySpec(
        "emb_ann_topk", M.q_emb_ann_topk, M.ORACLE_EMB_ANN_TOPK,
        "approximate top-k via sign-random-projection LSH buckets",
    ),
    QuerySpec(
        "doc_chunk_dedup", C.q_doc_chunk_dedup, C.ORACLE_DOC_CHUNK_DEDUP,
        "cross-document chunk-sharing stats, CCNet-style "
        "(corpus_prep.chunk_dedup_stats)",
    ),
    QuerySpec(
        "doc_corpus_profile_hll", M.q_doc_corpus_profile_hll,
        M.ORACLE_DOC_CORPUS_PROFILE_HLL,
        "per-lang corpus profile (full exact columns) + HLL sketch "
        "estimates asserted within 3x their documented rsd",
    ),
    QuerySpec(
        "emb_ivf_topk", M.q_emb_ivf_topk, M.oracle_emb_ivf_topk,
        "IVF cluster-pruned approximate top-k; centroids are trained "
        "once and embedded in the lazily-built DuckDB oracle as plan "
        "constants (full hash gate)",
    ),
    QuerySpec(
        "emb_quantized_topk", M.q_emb_quantized_topk, M.ORACLE_EMB_QUANTIZED_TOPK,
        "exact top-k over the float32 AND int8-quantized corpus, "
        "tier-tagged (tier='float32' is the exact cosine top-k; "
        "deterministic integer quantization keeps the full hash gate)",
    ),
    QuerySpec(
        "emb_cosine_dups", M.q_emb_cosine_dups, M.ORACLE_EMB_COSINE_DUPS,
        "embedding-cosine near-dup pairs via sign-signature blocking",
    ),
    QuerySpec(
        "doc_collapse_repeats", C.q_doc_collapse_repeats,
        C.ORACLE_DOC_COLLAPSE_REPEATS,
        "zero-shuffle consecutive-repeat-token collapse "
        "(corpus_prep.collapse_repeat_tokens)",
    ),
    QuerySpec(
        "doc_adaptive_quality", C.q_doc_adaptive_quality,
        C.ORACLE_DOC_ADAPTIVE_QUALITY,
        "per-language percentile-learned quality cutoff gate "
        "(corpus_prep.adaptive_quality_gate)",
    ),
    QuerySpec(
        "host_pagerank", CR.q_host_pagerank, CR.ORACLE_HOST_PAGERANK,
        "crawl-prioritization PageRank, integer fixed-point power "
        "iteration (operators/graph.py)",
    ),
    QuerySpec(
        "doc_heavy_hitters", C.q_doc_heavy_hitters,
        C.ORACLE_DOC_HEAVY_HITTERS,
        "count-min-sketch token-frequency tier, bounded-tolerance gate "
        "(operators/sketches.py)",
    ),
    QuerySpec(
        "doc_winnow_pairs", CR.q_doc_winnow_pairs,
        CR.ORACLE_DOC_WINNOW_PAIRS,
        "MOSS winnowing fingerprint candidate pairs "
        "(dedup.winnow_fingerprints/winnow_candidate_pairs)",
    ),
    QuerySpec(
        "doc_gumbel_sample", CR.q_doc_gumbel_sample,
        CR.ORACLE_DOC_GUMBEL_SAMPLE,
        "deterministic document samplers, method-tagged (Gumbel-top-k "
        "weighted sample plus the per-language stratified sample as "
        "method='stratified'; "
        "curation.weighted_sample_gumbel + "
        "corpus_prep.stratified_sample_n)",
    ),
    QuerySpec(
        "emb_cluster_profile", CR.q_emb_cluster_profile,
        CR.oracle_emb_cluster_profile,
        "per-cluster corpus profile over the trained IVF index "
        "(similarity.cluster_assign + rollup)",
    ),
    QuerySpec(
        "doc_rag_chunks", C.q_doc_rag_chunks, C.ORACLE_DOC_RAG_CHUNKS,
        "overlapping sliding-window RAG chunking, zero shuffle "
        "(corpus_prep.sliding_chunks)",
    ),
    QuerySpec(
        "doc_dq_profile", R.q_doc_dq_profile, R.ORACLE_DOC_DQ_PROFILE,
        "ingest DQ gate: rule profile in one map-side partial-agg "
        "pass (null rule results count as violations) + the keyed "
        "snapshot-diff status rollup in the same shape "
        "(operators/snapshot.dq_profile + snapshot_diff)",
    ),
    QuerySpec(
        "doc_hh_candidates", C.q_doc_hh_candidates,
        C.ORACLE_DOC_HH_CANDIDATES,
        "salt-bucketed heavy-hitter candidate generation with exact "
        "top-m containment guarantee (sketches.heavy_hitter_candidates)",
    ),
    QuerySpec(
        "doc_hashing_tfidf", CR.q_doc_hashing_tfidf,
        CR.ORACLE_DOC_HASHING_TFIDF,
        "hashing-trick sparse TF-IDF features, bounded idf side-table "
        "(classifier.hashing_tfidf)",
    ),
    QuerySpec(
        "doc_corpus_pipeline", C.q_doc_corpus_pipeline,
        C.ORACLE_DOC_CORPUS_PIPELINE,
        "full prep composition: scrub -> repetition + decontamination "
        "gates -> domain-mix sample -> sequence packing, one query",
    ),
    QuerySpec(
        "doc_split_corpus", C.q_doc_split_corpus, C.ORACLE_DOC_SPLIT_CORPUS,
        "deterministic md5-bucket train/val/test assignment, zero "
        "shuffle (corpus_prep.split_corpus)",
    ),
    QuerySpec(
        "doc_oov_ratio", C.q_doc_oov_ratio, C.ORACLE_DOC_OOV_RATIO,
        "per-doc out-of-vocabulary ratio vs the top-k corpus vocab — "
        "explode + broadcast vocab join (corpus_prep.with_oov_ratio)",
    ),
    QuerySpec(
        "doc_cross_corpus_dups", M.q_doc_cross_corpus_dups,
        M.ORACLE_DOC_CROSS_CORPUS_DUPS,
        "incremental dedup screen: incoming batch vs existing corpus "
        "via cross-corpus banded LSH, Jaccard-verified",
    ),
    QuerySpec(
        "doc_media_features", M.q_doc_media_features, M.ORACLE_DOC_MEDIA_FEATURES,
        "binary-payload feature extraction via Arrow mapInPandas",
    ),
    QuerySpec(
        "doc_minhash_pairs", M.q_doc_minhash_pairs, M.ORACLE_DOC_MINHASH_PAIRS,
        "MinHash + banded-LSH near-dup pairs, Jaccard-verified",
    ),
    QuerySpec(
        "doc_neardup_clusters", M.q_doc_neardup_clusters, M.ORACLE_DOC_NEARDUP_CLUSTERS,
        "LSH pairs collapsed to clusters via distributed connected components",
    ),
    QuerySpec(
        "doc_neardup_survivors", M.q_doc_neardup_survivors, M.ORACLE_DOC_NEARDUP_SURVIVORS,
        "near-dup clusters -> min-id survivor -> per-language deduped-corpus rollup",
    ),
    QuerySpec(
        "doc_regex_extract", M.q_doc_regex_extract, M.ORACLE_DOC_REGEX_EXTRACT,
        "regexp_extract_all + element_at (F2)",
    ),
    QuerySpec(
        "doc_rolling_hash", M.q_doc_rolling_hash, M.ORACLE_DOC_ROLLING_HASH,
        "order-sensitive Rabin-Karp rolling-hash fingerprint",
    ),
    QuerySpec(
        "doc_dedup_survivors", M.q_doc_dedup_survivors, M.ORACLE_DOC_DEDUP_SURVIVORS,
        "quality-filter + normalize + dedup + canonical-survivor rollup",
    ),
    QuerySpec(
        "parts_brand_stats", M.q_parts_brand_stats, M.ORACLE_PARTS_BRAND_STATS,
        "pure-SQL entry path (spark.sql over temp views) on part",
    ),
    QuerySpec(
        "supplier_balance_by_nation", M.q_supplier_balance_by_nation,
        M.ORACLE_SUPPLIER_BALANCE,
        "supplier x broadcast nation rollup",
    ),
    QuerySpec(
        "pricing_summary", R.q_pricing_summary, R.ORACLE_PRICING_SUMMARY,
        "TPC-H Q1-shape grouped aggregation over lineitem",
    ),
    QuerySpec(
        "revenue_by_nation", R.q_revenue_by_nation, R.ORACLE_REVENUE_BY_NATION,
        "4-way join with broadcast dims (TPC-H Q5 shape)",
    ),
    QuerySpec(
        "top_customers", R.q_top_customers, R.ORACLE_TOP_CUSTOMERS,
        "join + agg + deterministic windowed top-k",
    ),
    QuerySpec(
        "order_priority_semi", R.q_order_priority_semi, R.ORACLE_ORDER_PRIORITY_SEMI,
        "EXISTS via left-semi join",
    ),
    QuerySpec(
        "customers_without_orders", R.q_customers_without_orders,
        R.ORACLE_CUSTOMERS_WITHOUT_ORDERS, "NOT EXISTS via left-anti join",
    ),
    QuerySpec(
        "top_acctbal_per_nation", R.q_top_acctbal_per_nation,
        R.ORACLE_TOP_ACCTBAL_PER_NATION, "window top-k per group",
    ),
    QuerySpec(
        "rollup_revenue", R.q_rollup_revenue, R.ORACLE_ROLLUP_REVENUE,
        "ROLLUP grouping sets with grouping_id",
    ),
    QuerySpec(
        "sessionize", R.q_sessionize, R.ORACLE_SESSIONIZE,
        "gap-based sessionization (lag + running sum)",
    ),
    QuerySpec(
        "asof_purchase_click", P.q_asof_purchase_click, P.ORACLE_ASOF_PURCHASE_CLICK,
        "as-of join (SURVEY J4): latest prior click per purchase",
    ),
    QuerySpec(
        "revenue_grouping_sets", R.q_revenue_grouping_sets,
        R.ORACLE_REVENUE_GROUPING_SETS,
        "GROUPING SETS multi-granularity agg in one pass",
    ),
    QuerySpec(
        "doc_exact_dups", M.q_doc_exact_dups, M.ORACLE_DOC_EXACT_DUPS,
        "exact-duplicate groups via content-hash groupBy",
    ),
    QuerySpec(
        "doc_simhash", M.q_doc_simhash, M.ORACLE_DOC_SIMHASH,
        "16-bit SimHash document fingerprint",
    ),
    QuerySpec(
        "doc_ngram_jaccard", M.q_doc_ngram_jaccard, M.ORACLE_DOC_NGRAM_JACCARD,
        "trigram-shingle Jaccard on adjacent doc pairs",
    ),
    QuerySpec(
        "doc_token_dim", M.q_doc_token_dim, M.ORACLE_DOC_TOKEN_DIM,
        "explode → distinct dim with deterministic surrogate key (A2/A3)",
    ),
    QuerySpec(
        "doc_token_bridge", M.q_doc_token_bridge, M.ORACLE_DOC_TOKEN_BRIDGE,
        "explode + broadcast dim join bridge build (J2/J3)",
    ),
    QuerySpec(
        "doc_clean_filters", M.q_doc_clean_filters, M.ORACLE_DOC_CLEAN_FILTERS,
        "na.drop + multi-clause + exists/rlike filter stack (P4/P6/P8)",
    ),
    QuerySpec(
        "events_props_struct", M.q_events_props_struct, M.ORACLE_EVENTS_PROPS_STRUCT,
        "from_json struct parse + agg (F14)",
    ),
    QuerySpec(
        "doc_pii_scrub", C.q_doc_pii_scrub, C.ORACLE_DOC_PII_SCRUB,
        "ordered regexp_replace PII redaction + per-category counts "
        "(corpus_prep.scrub_pii)",
    ),
    QuerySpec(
        "doc_repetition_stats", C.q_doc_repetition_stats,
        C.ORACLE_DOC_REPETITION_STATS,
        "Gopher-style dup-token/trigram + modal-bigram repetition "
        "signals (corpus_prep.with_repetition_stats)",
    ),
    QuerySpec(
        "doc_domain_mix", C.q_doc_domain_mix, C.ORACLE_DOC_DOMAIN_MIX,
        "deterministic md5-bucket stratified sampling to a target mix "
        "(corpus_prep.domain_mix_sample)",
    ),
    QuerySpec(
        "doc_decontaminate", C.q_doc_decontaminate, C.ORACLE_DOC_DECONTAMINATE,
        "GPT-3-style 5-gram benchmark decontamination "
        "(corpus_prep.decontaminate)",
    ),
    QuerySpec(
        "doc_pack_sequences", C.q_doc_pack_sequences,
        C.ORACLE_DOC_PACK_SEQUENCES,
        "concat-and-chunk sequence packing per (stratum, md5 shard) "
        "(corpus_prep.pack_sequences)",
    ),
    QuerySpec(
        "event_interval_join", C.q_event_interval_join,
        C.ORACLE_EVENT_INTERVAL_JOIN,
        "bucketed point-in-interval join — hash equi-join, never BNLJ "
        "(operators/interval.interval_join)",
    ),
    QuerySpec(
        "doc_vocab_topk", C.q_doc_vocab_topk, C.ORACLE_DOC_VOCAB_TOPK,
        "tokenizer vocab build: top-k tokens via TakeOrderedAndProject "
        "(textstats.vocab_topk)",
    ),
    QuerySpec(
        "star_pipeline", SP.q_star_pipeline, SP.ORACLE_STAR_PIPELINE,
        "end-to-end fixed-mode star build (clean -> dims -> fact -> "
        "bridges) over an article frame synthesized from the scale "
        "tables; one canonical rollup row per output table "
        "(etl/star_schema.build_star)",
    ),
    QuerySpec(
        "doc_bloom_screen", SC.q_doc_bloom_screen, SC.ORACLE_DOC_BLOOM_SCREEN,
        "Bloom-filter banned-content pre-screen: exact membership twin "
        "+ no-false-negative verdict column (operators/bloom.py)",
    ),
    QuerySpec(
        "doc_normalize_dups", SC.q_doc_normalize_dups,
        SC.ORACLE_DOC_NORMALIZE_DUPS,
        "canonical-form (case/accent/punctuation) dedup families with "
        "min-id survivors (operators/normalize.py)",
    ),
    QuerySpec(
        "doc_pmi_collocations", SC.q_doc_pmi_collocations,
        SC.ORACLE_DOC_PMI_COLLOCATIONS,
        "top-k PMI bigram collocations, min-count floored "
        "(textstats.pmi_collocations)",
    ),
    QuerySpec(
        "doc_containment", SC.q_doc_containment, SC.ORACLE_DOC_CONTAINMENT,
        "one-sided k-gram containment pairs — the quote-inclusion dups "
        "Jaccard misses (dedup.containment_pairs)",
    ),
    QuerySpec(
        "doc_line_dedup", SC.q_doc_line_dedup, SC.ORACLE_DOC_LINE_DEDUP,
        "C4-style cross-document exact line dedup, first occurrence "
        "wins, sorted reassembly (operators/lines.py)",
    ),
    QuerySpec(
        "doc_line_quality", SC.q_doc_line_quality, SC.ORACLE_DOC_LINE_QUALITY,
        "C4 per-line quality rules (min words, terminal punctuation, "
        "brace filter), zero-shuffle rewrite (operators/lines.py)",
    ),
    QuerySpec(
        "doc_shuffle_shards", SC.q_doc_shuffle_shards,
        SC.ORACLE_DOC_SHUFFLE_SHARDS,
        "deterministic seed-keyed global shuffle into training shards, "
        "no global sort (curation.shuffle_to_shards)",
    ),
    QuerySpec(
        "doc_token_ids", C.q_doc_token_ids, C.oracle_doc_token_ids,
        "LM input prep: ordered subword-id encoding via the trained "
        "BPE segmentation + lexicographic vocab; order itself is "
        "hash-gated (bpe.encode_token_ids; lazy oracle embeds the "
        "model as plan constants)",
    ),
    QuerySpec(
        "doc_host_boilerplate", SC.q_doc_host_boilerplate,
        SC.ORACLE_DOC_HOST_BOILERPLATE,
        "host-level boilerplate removal: per-group line document "
        "frequency, every copy dropped (lines.remove_common_lines)",
    ),
    QuerySpec(
        "doc_budget_mix", SC.q_doc_budget_mix, SC.ORACLE_DOC_BUDGET_MIX,
        "token-budget corpus assembly: per-source budgets filled in "
        "deterministic hash order, tournament-pruned cumsum "
        "(curation.token_budget_mix)",
    ),
    QuerySpec(
        "emb_pq_topk", SC.q_emb_pq_topk, SC.oracle_emb_pq_topk,
        "product-quantization ADC top-k: m-subspace codebooks, "
        "code-bandwidth scan, table-lookup distances (similarity.pq_*; "
        "lazy oracle embeds codebooks + ADC tables as plan constants)",
    ),
    QuerySpec(
        "doc_html_extract", SC.q_doc_html_extract,
        SC.ORACLE_DOC_HTML_EXTRACT,
        "WET-style HTML->text extraction, zero-shuffle regexp chain "
        "with a generated mirror oracle (operators/html.py)",
    ),
    QuerySpec(
        "emb_ivfpq_topk", SC.q_emb_ivfpq_topk, SC.oracle_emb_ivfpq_topk,
        "IVFADC top-k: coarse quantizer + PQ on residuals, per-list "
        "ADC code scans (similarity.ivfpq_*; lazy plan-constants "
        "oracle)",
    ),
    QuerySpec(
        "curation_pipeline", SC.q_curation_pipeline,
        SC.ORACLE_CURATION_PIPELINE,
        "end-to-end curation: blocklist -> exact dedup -> CCNet "
        "buckets on survivors -> tail drop -> rollup (one oracle)",
    ),
    QuerySpec(
        "doc_zorder", SC.q_doc_zorder, SC.ORACLE_DOC_ZORDER,
        "Z-order clustering key: bit-interleaved (n_chars, id-hash) "
        "layout key, every bit hash-gated (operators/layout.zvalue)",
    ),
    QuerySpec(
        "doc_bpe_fertility", C.q_doc_bpe_fertility,
        C.oracle_doc_bpe_fertility,
        "per-language BPE fertility/compression report (lazy "
        "plan-constants oracle, bpe.tokenizer_fertility)",
    ),
    QuerySpec(
        "doc_phrase_search", CR.q_doc_phrase_search,
        CR.ORACLE_DOC_PHRASE_SEARCH,
        "exact positional phrase match: anchor-alignment vote, one "
        "partial-agg shuffle (search.phrase_match)",
    ),
    QuerySpec(
        "doc_allpairs", SC.q_doc_allpairs, SC.ORACLE_DOC_ALLPAIRS,
        "exact all-pairs shingle Jaccard via AllPairs prefix filter, "
        "hash-gated vs unfiltered brute force (dedup.allpairs_jaccard)",
    ),
    QuerySpec(
        "doc_blocklist", SC.q_doc_blocklist, SC.ORACLE_DOC_BLOCKLIST,
        "UT1-style domain blocklist screen: suffix-chain subdomain "
        "matching, guarded broadcast (urls.blocklist_matches)",
    ),
    QuerySpec(
        "doc_ccnet_buckets", C.q_doc_ccnet_buckets,
        C.ORACLE_DOC_CCNET_BUCKETS,
        "CCNet head/middle/tail perplexity thirds per language: exact "
        "per-stratum percentile_disc cutoffs over the fixed-point LM "
        "score (corpus_prep.ccnet_buckets)",
    ),
    QuerySpec(
        "event_funnel", R.q_event_funnel, R.ORACLE_EVENT_FUNNEL,
        "ordered view->click->purchase funnel: chained unordered "
        "windows, one shuffle for any number of steps",
    ),
    QuerySpec(
        "event_cohort_retention", R.q_event_cohort_retention,
        R.ORACLE_EVENT_COHORT_RETENTION,
        "weekly cohort retention matrix: first-event window, "
        "(cohort, offset) distinct-agg, window denominator",
    ),
    QuerySpec(
        "part_avg_qty_outliers", R.q_part_avg_qty_outliers,
        R.ORACLE_PART_AVG_QTY_OUTLIERS,
        "TPC-H Q17 correlated scalar subquery as literal SQL — "
        "Catalyst decorrelation gated against DuckDB on the same text",
    ),
    QuerySpec(
        "doc_char_entropy", P.q_doc_char_entropy, P.ORACLE_DOC_CHAR_ENTROPY,
        "27-class character entropy + letter fraction, zero-shuffle "
        "bounded-alphabet expression (textstats.with_char_entropy)",
    ),
    QuerySpec(
        "doc_kn_lm", C.q_doc_kn_lm, C.ORACLE_DOC_KN_LM,
        "interpolated Kneser-Ney bigram LM score with continuation "
        "back-off (corpus_prep.with_kn_score)",
    ),
    QuerySpec(
        "doc_hashed_classifier", CR.q_doc_hashed_classifier,
        CR.oracle_doc_hashed_classifier,
        "bag-of-hashed-words linear quality classifier, idf + weights "
        "as plan constants, fixed-point sparse dot (fastText shape; "
        "classifier.score_hashed_logreg; lazy oracle)",
    ),
    QuerySpec(
        "emb_kmeans_train", M.q_emb_kmeans_train, M.ORACLE_EMB_KMEANS_TRAIN,
        "distributed fixed-point Lloyd's k-means; the static oracle "
        "replays the whole training fixpoint from the raw table "
        "(similarity.kmeans_train_fx)",
    ),
    QuerySpec(
        "supplier_sole_late", R.q_supplier_sole_late,
        R.ORACLE_SUPPLIER_SOLE_LATE,
        "TPC-H Q21 shape: EXISTS + NOT EXISTS correlated subqueries, "
        "Catalyst semi/anti decorrelation gated on the same SQL text",
    ),
    QuerySpec(
        "doc_keywords", M.q_doc_keywords, M.ORACLE_DOC_KEYWORDS,
        "top-3 exact TF-IDF keywords per doc; rounded-score rank key "
        "(textstats.keyword_extract)",
    ),
    QuerySpec(
        "doc_ngram_novelty", M.q_doc_ngram_novelty,
        M.ORACLE_DOC_NGRAM_NOVELTY,
        "per-doc 5-gram first-owner novelty fraction "
        "(dedup.ngram_novelty)",
    ),
    QuerySpec(
        "doc_bpe_roundtrip", C.q_doc_bpe_roundtrip,
        C.ORACLE_DOC_BPE_ROUNDTRIP,
        "BPE encode->decode round trip vs the BPE-blind raw-text "
        "oracle (bpe.decode_token_ids)",
    ),
    QuerySpec(
        "event_time_range_avg", R.q_event_time_range_avg,
        R.ORACLE_EVENT_TIME_RANGE_AVG,
        "trailing-1-hour RANGE window frame on the timestamp axis",
    ),
    QuerySpec(
        "event_rank_metrics", R.q_event_rank_metrics,
        R.ORACLE_EVENT_RANK_METRICS,
        "percent_rank + ntile(4) + cume_dist under a total order",
    ),
    QuerySpec(
        "customer_idle_rich", R.q_customer_idle_rich,
        R.ORACLE_CUSTOMER_IDLE_RICH,
        "TPC-H Q22 shape: scalar subquery + NOT EXISTS, cents-exact "
        "threshold",
    ),
    QuerySpec(
        "doc_dedup_spans", CR.q_doc_dedup_spans, CR.ORACLE_DOC_DEDUP_SPANS,
        "exact duplicated-span removal: drop tokens covered by "
        "cross-doc duplicated 5-grams, ordered reassembly "
        "(curation.remove_duplicate_spans)",
    ),
    QuerySpec(
        "doc_hybrid_search", CR.q_doc_hybrid_search,
        CR.ORACLE_DOC_HYBRID_SEARCH,
        "hybrid retrieval: BM25 candidates re-ranked by PRF embedding "
        "cosine (search.hybrid_prf_topk)",
    ),
    QuerySpec(
        "dim_scd2_asof", R.q_dim_scd2_asof, R.ORACLE_DIM_SCD2_ASOF,
        "point-in-time (time-travel) view over the merged SCD2 "
        "dimension, both boundary sides gated (etl/scd.scd2_asof)",
    ),
    QuerySpec(
        "doc_term_screen", CR.q_doc_term_screen, CR.ORACLE_DOC_TERM_SCREEN,
        "word-boundary banned-term content screen "
        "(curation.term_screen)",
    ),
    QuerySpec(
        "emb_jl_project", M.q_emb_jl_project, M.ORACLE_EMB_JL_PROJECT,
        "JL +/-1 random projection 64->16, coordinates + adjacent-pair "
        "distance ratios hash-gated (similarity.jl_project)",
    ),
    QuerySpec(
        "rag_pipeline", CR.q_rag_pipeline, CR.ORACLE_RAG_PIPELINE,
        "RAG retrieval composition: chunk -> dedup -> BM25 over the "
        "chunk corpus, one oracle",
    ),
    QuerySpec(
        "doc_datasheet", P.q_doc_datasheet, P.ORACLE_DOC_DATASHEET,
        "one-row corpus datasheet: sizes, diversity, dup mass, "
        "short-doc fraction in two aggregate scans",
    ),
    QuerySpec(
        "doc_title_fuzzy_match", M.q_doc_title_fuzzy_match,
        M.ORACLE_DOC_TITLE_FUZZY_MATCH,
        "fuzzy entity matching: char-5-gram AllPairs join of titles "
        "vs corrupted copies, brute-force oracle "
        "(dedup.fuzzy_string_pairs)",
    ),
    QuerySpec(
        "session_window_agg", R.q_session_window_agg,
        R.ORACLE_SESSION_WINDOW_AGG,
        "native session_window gap sessionization (twin construction "
        "to the lag+running-sum sessionize gate)",
    ),
    QuerySpec(
        "event_value_quantiles_approx", R.q_event_value_quantiles_approx,
        R.ORACLE_EVENT_VALUE_QUANTILES_APPROX,
        "percentile_approx bounded-tolerance gate: exact "
        "percentile_disc hash-checked + rank-budget verdicts",
    ),
    QuerySpec(
        "train_export_pipeline", C.q_train_export_pipeline,
        C.oracle_train_export_pipeline,
        "train-ready export composition: exact dedup -> BPE token-id "
        "encode -> id-budget sequence packing -> shuffled shards, "
        "per-sequence id checksum end-to-end (lazy plan-constants "
        "oracle)",
    ),
    QuerySpec(
        "doc_lang_id_ngram", P.q_doc_lang_id_ngram,
        P.ORACLE_DOC_LANG_ID_NGRAM,
        "Cavnar-Trenkle n-gram language ID: per-language char-trigram "
        "rank profiles + out-of-place distance, argmin prediction, "
        "all-integer hash gate over BOTH branches — self-trained and "
        "pretrained-on-a-disjoint-split at a mismatched model depth "
        "(textstats.lang_id_ngram)",
    ),
    QuerySpec(
        "doc_cdc_chunks", C.q_doc_cdc_chunks, C.ORACLE_DOC_CDC_CHUNKS,
        "content-defined chunk dedup: md5-window CDC boundaries "
        "(expected 8-token chunks), shared-chunk stats over an "
        "edited-mirror corpus (corpus_prep.cdc_chunks + "
        "chunk_dedup_stats custom chunker)",
    ),
    QuerySpec(
        "doc_unigram_tokens", C.q_doc_unigram_tokens,
        C.oracle_doc_unigram_tokens,
        "unigram-LM (SentencePiece) tokenizer: Viterbi-EM piece "
        "vocabulary trained at corpus scale, per-doc subword counts "
        "through the shared segmentation-cache join (lazy "
        "plan-constants oracle; operators/unigram.py)",
    ),
    QuerySpec(
        "doc_media_dedup", M.q_doc_media_dedup, M.ORACLE_DOC_MEDIA_DEDUP,
        "binary-asset near-dup pairs without decoding: byte-chunk "
        "SimHash + banded Hamming-ball lookup over re-hosted and "
        "tail-edited payload copies (multimodal.payload_simhash / "
        "payload_neardup_pairs)",
    ),
    QuerySpec(
        "doc_cdc_screen", C.q_doc_cdc_screen, C.ORACLE_DOC_CDC_SCREEN,
        "CDC ingest screen: per-doc fraction of content-defined "
        "chunks already in the lake chunk store — shifted mirrors "
        "read as seen (corpus_prep.prepare_cdc_ref / "
        "cdc_seen_fraction; streaming face cdc_chunk_screen_stream)",
    ),
    QuerySpec(
        "er_pipeline", M.q_er_pipeline, M.ORACLE_ER_PIPELINE,
        "entity-resolution composition: fuzzy candidate pairs "
        "(AllPairs char-5-gram) -> connected components -> min-id "
        "canonical + family size, one exact recursive-CTE oracle "
        "(dedup.fuzzy_string_pairs + dedup_clusters)",
    ),
    QuerySpec(
        "doc_lang_margin", P.q_doc_lang_margin, P.ORACLE_DOC_LANG_MARGIN,
        "language ID with a confidence margin: top-2 out-of-place "
        "distances per doc, abstain to 'und' when the runner-up is "
        "within the margin — planted ambiguous slice pins both the "
        "predict and abstain paths (textstats.lang_id_ngram_margin)",
    ),
    QuerySpec(
        "doc_unigram_fertility", C.q_doc_unigram_fertility,
        C.oracle_doc_unigram_fertility,
        "tokenizer-family fertility report: per-language subwords-"
        "per-word of the trained BPE merges vs the trained unigram-LM "
        "pieces side by side, ratio column (bpe.tokenizer_fertility "
        "over both segmentation caches; lazy plan-constants oracle)",
    ),
    QuerySpec(
        "doc_edit_join", M.q_doc_edit_join, M.ORACLE_DOC_EDIT_JOIN,
        "bounded edit-distance self-join: Ed-Join positional q-gram "
        "prefix candidates + banded-DP levenshtein verify over planted "
        "1- and 2-substitution title variants; brute-force all-pairs "
        "oracle pins candidate completeness (dedup.edit_distance_pairs)",
    ),
    QuerySpec(
        "doc_zipf_fit", C.q_doc_zipf_fit, C.ORACLE_DOC_ZIPF_FIT,
        "per-language corpus-law profile: Zipf's-law head fit "
        "(least-squares ln(freq)~ln(rank) + type/token counts) joined "
        "with the Heaps'-law vocabulary-growth surface (bucketed "
        "cumulative tokens/types + ln-ln fit) (textstats.zipf_fit + "
        "heaps_fit)",
    ),
    QuerySpec(
        "doc_wordpiece_tokens", C.q_doc_wordpiece_tokens,
        C.oracle_doc_wordpiece_tokens,
        "WordPiece (BERT) tokenizer completing the family: likelihood-"
        "scored merge training, greedy longest-match encoding with "
        "##-continuation pieces and whole-word [UNK], per-doc subword "
        "counts through the shared segmentation-cache join (lazy "
        "plan-constants oracle; operators/wordpiece.py)",
    ),
    QuerySpec(
        "doc_weighted_cosine", M.q_doc_weighted_cosine,
        M.ORACLE_DOC_WEIGHTED_COSINE,
        "weighted-cosine all-pairs join over TF-IDF doc vectors "
        "(Bayardo WWW'07 prefix filter, never all-pairs) — planted "
        "weight-only near-dups that set Jaccard cannot separate; "
        "brute-force oracle with the float fold order pinned on both "
        "engines (dedup.allpairs_cosine_weighted)",
    ),
    QuerySpec(
        "doc_lang_segments", P.q_doc_lang_segments,
        P.ORACLE_DOC_LANG_SEGMENTS,
        "within-document code-switch segmentation: 16-token windows "
        "voted by stopword hits, same-label runs collapsed via the "
        "lag/running-sum idiom (textstats.lang_segments)",
    ),
    QuerySpec(
        "doc_payload_containment", M.q_doc_payload_containment,
        M.ORACLE_DOC_PAYLOAD_CONTAINMENT,
        "Broder containment over fixed-stride byte-chunk hashes of "
        "binary payloads — subset-duplicate assets (small file inside "
        "a concatenated shard) the SimHash resemblance tier misses "
        "(multimodal.payload_containment_pairs)",
    ),
    QuerySpec(
        "host_hits", CR.q_host_hits, CR.ORACLE_HOST_HITS,
        "Kleinberg HITS hubs/authorities over the host link graph, "
        "integer fixed-point with floor-div L1 renormalization — "
        "crawl-frontier complement of host_pagerank; MATERIALIZED "
        "unrolled-CTE oracle (operators/graph.hits)",
    ),
    QuerySpec(
        "doc_edit_screen", M.q_doc_edit_screen, M.ORACLE_DOC_EDIT_SCREEN,
        "cross-side bounded edit-distance screen (incoming batch vs "
        "lake, one-sided Ed-Join prefix) — the batch face of "
        "streaming.edit_screen_stream (dedup.edit_screen_pairs)",
    ),
    QuerySpec(
        "emb_hard_negatives", M.q_emb_hard_negatives,
        M.ORACLE_EMB_HARD_NEGATIVES,
        "contrastive hard-negative mining: per-anchor cosine top-k "
        "inside the [lo, hi) band that EXCLUDES planted near-dups "
        "above the ceiling (Karpukhin EMNLP'20 / ANCE ICLR'21; "
        "similarity.hard_negatives: broadcast anchors, one map-side "
        "pass, plan shape pytest-pinned)",
    ),
    QuerySpec(
        "er_fs_scores", M.q_er_fs_scores, M.ORACLE_ER_FS_SCORES,
        "Fellegi-Sunter record-linkage scoring (JASA 1969): closed-"
        "form labeled m/u estimation on a family slice + fixed-order "
        "log-likelihood-ratio scoring over the edit-gate pair corpus "
        "(operators/linkage.fs_weights/fs_score)",
    ),
    QuerySpec(
        "er_fs_em_scores", M.q_er_fs_em_scores, M.ORACLE_ER_FS_EM_SCORES,
        "UNSUPERVISED Fellegi-Sunter weights via EM (Winkler 1988) on "
        "the same edit-gate pair corpus as er_fs_scores — no labels, "
        "add-half-smoothed m/u on the integer comparison grid; the "
        "oracle unrolls every EM iteration as MATERIALIZED CTEs "
        "(operators/linkage.fs_em_weights)",
    ),
    QuerySpec(
        "doc_unimax_quotas", C.q_doc_unimax_quotas,
        C.ORACLE_DOC_UNIMAX_QUOTAS,
        "UniMax language-budget allocation (Chung et al. ICLR 2023): "
        "closed-form waterfilling of a token budget across languages "
        "with a per-language epoch cap — one window pass, no iteration "
        "(operators/corpus_prep.unimax_quotas)",
    ),
    QuerySpec(
        "emb_ingest_screen", M.q_emb_ingest_screen,
        M.ORACLE_EMB_INGEST_SCREEN,
        "semantic ingest screen, batch face: incoming embedding batch "
        "vs landed lake, cross-side cosine refusal at the decontam "
        "threshold with exclude_same_id=False so re-delivered ids are "
        "refused — the batch twin of streaming.emb_screen_stream "
        "(similarity.embedding_decontaminate; IVF escalation "
        "embedding_decontaminate_ivf equals this tier at full probe, "
        "pytest-pinned)",
    ),
]

_BY_NAME: dict[str, QuerySpec] = {q.name: q for q in _REGISTERED}
assert len(_BY_NAME) == len(_REGISTERED), "duplicate registry names"

QUERIES: list[QuerySpec] = _REGISTERED


def queries_map() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in QUERIES}


def oracle_sql_map(sf_dir: str) -> dict[str, str]:
    """Oracle SQL per query name, with every callable oracle built for
    ``sf_dir`` — the dir the queries are compared at."""
    return {
        q.name: (q.oracle(sf_dir) if callable(q.oracle) else q.oracle)
        for q in QUERIES
    }
