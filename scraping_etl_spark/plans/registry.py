"""Central registry of (query, oracle) pairs — feeds ``__spark_entry__``.

Every operator claimed done in SURVEY.md §2 gets an entry here; queries
without an ``oracle`` (genuinely non-SQL-expressible ops) get the driver's
weaker rows-only check.

Seat-rotation policy (see README.md "Correctness rotation"): the driver
verifies the FIRST 50 entries each round, and the registry holds more
than 50, so list order is a verification schedule, not cosmetics. Each
round, queries that are new or whose oracle changed get a window seat;
the seats are paid for by rotating the longest-continuously-green
entries to the tail. Tail entries stay covered every round by the local
DuckDB-oracle suite (``tests/test_relational_queries.py`` parametrizes
over the WHOLE registry) and re-earn a driver seat on a later rotation.

Round-8 rotation (completes the r7 cycle — every registry query now has
a driver-green row within the trailing two rounds): the 15 entries that
sat in the r7 tail (``hourly_event_rollup`` … ``orderkeys_except_open``,
all last driver-checked in r6) re-enter the window, joined by the three
new gates (``doc_lm_score_ref``, ``doc_stream_gates``,
``doc_bpe_tokens``) and the five entries whose query or operator changed
this round (``doc_chunk_dedup`` pairs checkpoint, ``doc_lm_score``
hot-set guard, ``doc_length_quantiles`` single-pass rewrite,
``doc_stratified_sample`` salt slice, ``doc_corpus_profile_hll`` now a
bounded-tolerance VALUE gate instead of rows-only). Paying for the
seats, the 18 most senior continuously-green unchanged entries rotate
to the tail: ``pricing_summary`` … ``revenue_grouping_sets`` (the ten
round-1 relational gates), ``doc_exact_dups``, ``doc_simhash``,
``doc_ngram_jaccard``, ``emb_cosine_topk``, ``doc_token_dim``,
``doc_token_bridge``, ``doc_clean_filters``, ``events_props_struct``
(all r7-green, code untouched).

Round-8 mid-round amendment: six NEW curation/retrieval gates
(``doc_bm25``, ``doc_source_cap``, ``emb_semantic_dedup``,
``doc_dup_passages``, ``doc_quality_classifier``,
``doc_dsir_weights`` — plans/curation_ops.py) take window seats, paid
for by rotating six more r7-green unchanged entries to the tail
(``doc_regex_extract``, ``doc_token_counts``, ``doc_rolling_hash``,
``doc_dedup_survivors``, ``parts_brand_stats``,
``supplier_balance_by_nation``).

Round-8 second amendment: four more NEW gates take window seats —
``emb_decontaminate`` (embedding-space benchmark decontamination,
plans/ml_ops.py), ``doc_temperature_mix`` (alpha-smoothed corpus mix,
plans/corpus_ops.py), ``dim_scd2`` (SCD type-2 dimension merge,
plans/relational.py + etl/scd.py), ``doc_token_divergence``
(fixed-point JS drift monitor, plans/corpus_ops.py) — paid for by
rotating four r7-green unchanged entries to the tail
(``doc_minhash_pairs``, ``doc_neardup_clusters``,
``doc_neardup_survivors``, ``emb_ann_topk``).

Round-8 third amendment: ``doc_length_quantiles_kll`` (KLL sketch
tolerance gate) and ``doc_url_canonical`` (URL canonicalizer) seat as
new gates; ``emb_cosine_topk`` and ``emb_ann_topk`` RE-seat because the
norm-hoist touched their operators after their last driver row. Paid
for by rotating ``doc_cross_corpus_dups``, ``emb_cluster_assign``,
``doc_media_features`` and ``doc_corpus_profile`` (r7-green,
untouched) to the tail.

Round-8 fourth amendment: ``snapshot_diff`` and ``doc_dq_profile``
(operators/snapshot.py — incremental lake diff + ingest DQ gate) seat
as new gates, paid for by rotating ``doc_split_corpus`` and
``doc_oov_ratio`` (r7-green, untouched) to the tail — 82 entries.

Round-8 fifth amendment: ``doc_collapse_repeats`` (zero-shuffle
stutter repair, corpus_prep.collapse_repeat_tokens),
``doc_adaptive_quality`` (per-language percentile-learned quality
cutoff, corpus_prep.adaptive_quality_gate) and ``doc_heavy_hitters``
(count-min-sketch frequency tier with a bounded-tolerance verdict,
operators/sketches.py) seat as new gates, paid for by rotating
``doc_pii_scrub``, ``doc_repetition_stats`` and ``doc_domain_mix``
(r7-green, operators untouched since their last driver row) to the
tail — 85 entries.

Round-8 sixth amendment: ``host_pagerank`` (crawl-prioritization
PageRank over a deterministic host graph; integer fixed-point power
iteration, operators/graph.py) seats as a new gate, paid for by
rotating ``doc_decontaminate`` (r7-green, operator untouched since
its r7 driver row) to the tail — 86 entries.

Round-8 seventh amendment: ``doc_winnow_pairs`` (MOSS winnowing
candidates, dedup.winnow_fingerprints), ``doc_gumbel_sample``
(deterministic Gumbel-top-k weighted sampling, curation) and
``emb_cluster_profile`` (per-cluster rollup over the trained IVF
index) seat as new gates, paid for by rotating
``doc_pack_sequences``, ``event_interval_join`` and
``doc_vocab_topk`` (r7-green, operators untouched) to the tail —
89 entries. The window also retains ``emb_quantized_topk``,
``emb_cosine_topk``, ``emb_ann_topk``, ``emb_semantic_dedup`` and
``emb_ivf_topk`` because the similarity-module single-evaluation
fixes (normalize/quantize double-bind) touched their operators after
their last driver row.

Round-8 eighth amendment: ``doc_rag_chunks`` (overlapping
sliding-window RAG chunking, corpus_prep.sliding_chunks) seats in the
window, paid for by rotating ``doc_corpus_pipeline`` (r7-green, its
component operators unchanged since that row — the ONLY remaining
unchanged r7-green entry in the window; every other seat is a
re-seated r6 entry owed its r8 row, an r8-new gate, or an
operator-changed entry). ``doc_hh_candidates`` (salt-bucketed
heavy-hitter candidates with the exact containment guarantee) is
registered at the HEAD of the tail — first in line for the r9
window — because no further seat could be freed without breaking a
stronger guarantee; it is DuckDB-verified locally every round and its
containment guarantee is pytest-pinned. 91 entries.

Round-8 ninth amendment: ``doc_hashing_tfidf`` (hashing-trick sparse
TF-IDF featurization, classifier.hashing_tfidf) registers behind
``doc_hh_candidates`` at the head of the tail with the same r9-window
priority — 92 entries.

Round-9 rotation (and a structural change): the schedule is now the
explicit ``ORDER`` name list below — definition order is append-only
registration, ``ORDER`` is the verification schedule, and the two can
no longer drift apart (the permutation is asserted at import). The
r9 window, in order: seats 1-2 honor the r8 promise
(``doc_hh_candidates``, ``doc_hashing_tfidf`` — the only two entries
never driver-checked); seats 3-42 are ALL forty entries whose last
driver row is r7 (the full r8 tail minus the two promises), so after
this round no entry's last driver row is older than r8; seats 43-45
re-seat the entries whose operators were touched this round
(``doc_bpe_tokens`` — guarded segmentation broadcast + Arrow merge
tier; ``doc_heavy_hitters`` — cms_estimate geometry probe;
``host_pagerank`` — empty-edges guard); seats 46-50 are the five new
round-9 gates (``star_pipeline``, ``doc_bloom_screen``,
``doc_normalize_dups``, ``doc_pmi_collocations``,
``doc_containment`` — plans/star_ops.py, plans/screen_ops.py). The
47 rotated-out entries are all r8-driver-green with operators
untouched this round. 97 entries; cadence policy in README.md
"Correctness rotation" (trailing-THREE-round invariant + recorded
local artifact from r9 on).

Round-9 second amendment: three more new gates — ``doc_line_dedup``
and ``doc_line_quality`` (C4-style line-level boilerplate surgery,
operators/lines.py) and ``doc_shuffle_shards`` (deterministic
training-shard shuffle, curation.shuffle_to_shards) — register at the
HEAD of the tail with r10-window priority (the round-9 cap of five
seated new gates is spent); all three are DuckDB-verified locally
(tests/test_relational_queries.py + CORRECTNESS_LOCAL artifacts) and
pytest-pinned meanwhile. 100 entries.

Round-9 third amendment: ``doc_token_ids`` (ordered BPE subword-id
encoding — the LM input-prep step completing the tokenizer story:
train → segment → encode → pack; bpe.encode_token_ids) joins the
r10-priority queue behind the line/shard gates — 101 entries.

Round-9 fourth amendment: ``doc_host_boilerplate`` (per-host
line-document-frequency boilerplate removal,
lines.remove_common_lines) and ``doc_budget_mix`` (token-budget
corpus assembly with the tournament-pruned cumsum,
curation.token_budget_mix) join the r10-priority queue — 103
entries, 6 queued for the r10 window.

Round-9 fifth amendment: ``emb_pq_topk`` (product-quantization ADC
approximate top-k — Jégou et al. 2011; similarity.pq_train/encode/
topk, code-bandwidth scans with driver-computed lookup tables as
shared plan constants) joins the queue — 104 entries, 7 queued.

Round-9 sixth amendment: ``doc_ccnet_buckets`` (CCNet perplexity
head/middle/tail thirds per language — Wenzek et al. 2019;
corpus_prep.ccnet_buckets over the audited with_lm_score plan plus
one bounded-domain histogram shuffle) joins the queue — 105 entries,
8 queued.

Round-9 seventh amendment: ``doc_blocklist`` (UT1-style domain
blocklist screen — the RefinedWeb adult/malware filter shape, Penedo
et al. 2023 §3.1; urls.blocklist_matches: bounded suffix-chain
explode, guarded-broadcast equi-join, match relation at
blocked-row cardinality) joins the queue — 106 entries, 9 queued.

Round-9 eighth amendment: ``doc_phrase_search`` (positional-postings
exact phrase match via anchor-alignment voting — the Lucene
``match_phrase`` operator; search.phrase_match, zero self-joins) and
``doc_allpairs`` (EXACT all-pairs shingle-Jaccard join with AllPairs
prefix filtering — Bayardo et al. 2007; dedup.allpairs_jaccard,
gated against the UNFILTERED brute-force oracle so losslessness is
the thing hashed) join the queue — 108 entries, 11 queued.

Round-9 ninth amendment: ``doc_bpe_fertility`` (per-language
fertility/compression report of the trained BPE vocabulary — the
tokenizer-quality signal a multilingual vocab/data-mix decision
needs; bpe.tokenizer_fertility, corpus collapsed to weighted
(lang, word) counts before the segmentation join) joins the queue —
109 entries, 12 queued.

Round-9 tenth amendment: ``doc_zorder`` (Z-order clustering key —
the Delta/Iceberg OPTIMIZE ZORDER layout primitive re-expressed as a
pure bit-interleave expression; operators/layout.py also ships
z_order_layout range-writing and parquet compaction, locality and
round-trip pinned by tests/test_layout.py) joins the queue — 110
entries, 13 queued.

Round-9 eleventh amendment: ``curation_pipeline`` (the LLM-side
``star_pipeline`` analog — blocklist screen → exact dedup → CCNet
bucketing trained on the survivor corpus → tail drop → rollup, as
ONE query with one exact oracle; gates the COMPOSITION of
already-gated operators) joins the queue — 111 entries, 14 queued.

Round-9 twelfth amendment: ``emb_ivfpq_topk`` (IVFADC — coarse
quantizer + product quantization over RESIDUALS, Jégou et al. 2011
§IV; similarity.ivfpq_train/encode/topk: zero-shuffle encode,
driver-ranked coarse probes, per-list ADC scans that partition-prune
in the production cluster-partitioned layout; full hash gate incl.
float distances via shared plan constants) joins the queue — 112
entries, 15 queued.

Round-9 thirteenth amendment: ``doc_html_extract`` (WET-style
HTML→text extraction as a zero-shuffle Java∩RE2 regexp chain — the
corpus-scale form of the reference's per-page DOM scraping; the
oracle runs a GENERATED mirror chain so every regex is parity-gated;
operators/html.py) joins the queue — 113 entries, 16 queued.

Round-9 fourteenth amendment: three behavioral-analytics gates —
``event_funnel`` (strictly-sequential view→click→purchase funnel as
chained unordered windows over one user-partitioning, one shuffle for
any step count), ``event_cohort_retention`` (weekly cohort × offset
retention matrix; the classic cohort self-join collapsed into a
window) and ``part_avg_qty_outliers`` (TPC-H Q17 correlated scalar
subquery submitted as literal SQL — Catalyst decorrelation gated
end-to-end) — join the r10-priority queue — 116 entries, 19 queued.

Round-9 fifteenth amendment: ``doc_char_entropy`` (fixed-27-symbol
character-class Shannon entropy + letter fraction — the
gibberish/encoding-junk signal, zero-shuffle by the bounded-alphabet
construction) and ``doc_kn_lm`` (interpolated Kneser-Ney bigram score
— the KenLM/CCNet smoothing family with continuation back-off,
reusing the lm_score hot/cold scored-join decomposition; Kneser & Ney
1995, Chen & Goodman 1999) join the r10-priority queue — 118 entries,
21 queued.

Round-9 sixteenth amendment: ``doc_hashed_classifier`` (bag-of-hashed-
words linear quality classifier — the fastText deployment shape: idf
AND weights frozen as plan constants so lake scoring needs no
corpus-wide statistics pass; fixed-point sparse dot keeps the hash
gate order-free; classifier.score_hashed_logreg) joins the
r10-priority queue — 119 entries, 22 queued.

Round-9 seventeenth amendment: ``emb_kmeans_train`` (distributed
Lloyd's k-means with integer-lattice centroid updates — bit-identical
under any partitioning, so the STATIC DuckDB oracle replays seed
selection, every assignment pass and every update from the raw table;
the training loop itself is what the hash gate certifies, extending
the host_pagerank iterative-fixpoint convention to model training;
similarity.kmeans_train_fx) joins the r10-priority queue — 120
entries, 23 queued.

Round-9 eighteenth amendment: ``supplier_sole_late`` (TPC-H Q21 shape
— EXISTS + NOT EXISTS correlated subqueries as literal SQL, gating
Catalyst's semi/anti decorrelation with a windowed top-20) joins the
r10-priority queue — 121 entries, 24 queued.

Round-9 nineteenth amendment: ``doc_keywords`` (per-document top-3
exact-vocabulary TF-IDF keywords; the rounded score is the rank key
so the ordering itself hashes; textstats.keyword_extract) and
``doc_ngram_novelty`` (per-document 5-gram first-owner novelty — the
dataset-redundancy growth signal; dedup.ngram_novelty) join the
r10-priority queue — 123 entries, 26 queued.

Round-9 twentieth amendment: ``doc_bpe_roundtrip`` (tokenizer
round trip: encode with end-of-word sentinels → decode; the STATIC
oracle is the raw lowercased-token join — it knows nothing about BPE,
so the hash certifies train→segment→encode→decode losslessness;
bpe.decode_token_ids) joins the r10-priority queue — 124 entries, 27
queued.

Round-9 twenty-first amendment: ``event_time_range_avg`` (time-axis
RANGE window frame — the frame surface beyond the ROWS spec),
``event_rank_metrics`` (percent_rank/ntile/cume_dist with a total
order so ntile itself hashes) and ``customer_idle_rich`` (TPC-H Q22
shape — scalar subquery + NOT EXISTS, cents-exact threshold so the
boundary compare cannot flip on summation order) join the
r10-priority queue — 127 entries, 30 queued.

Round-9 twenty-second amendment: ``doc_dedup_spans`` (exact
duplicated-SPAN removal — Lee et al. 2021's cut-the-substring form of
substring dedup: tokens covered by any cross-document-duplicated
5-gram are dropped and the survivors reassemble in order, the
reconstructed text itself hash-gating; curation.remove_duplicate_spans)
joins the r10-priority queue — 128 entries, 31 queued.

Round-9 twenty-third amendment: ``doc_hybrid_search`` (hybrid
retrieval — BM25 top-20 candidates re-ranked by embedding cosine to
the top lexical hit's vector, Rocchio-style pseudo-relevance
feedback; the production retrieve-then-rerank composition in one
hash-gated query; search.hybrid_prf_topk) joins the r10-priority
queue — 129 entries, 32 queued.

Round-9 twenty-fourth amendment: ``dim_scd2_asof`` (point-in-time
time travel over the merged SCD2 dimension — both sides of the
half-open from <= t < to boundary gated in one query;
etl/scd.scd2_asof) and ``doc_term_screen`` (word-boundary banned-term
content screen, the lexical layer of the C4/RefinedWeb filter stack —
only offending docs reach the aggregate; curation.term_screen) join
the r10-priority queue — 131 entries, 34 queued.

Round-9 twenty-fifth amendment: ``emb_jl_project`` (Johnson-
Lindenstrauss ±1 random projection 64→16, Achlioptas 2003 — every
projected coordinate hash-gated via fixed-point CSV plus the
adjacent-pair distance ratio the JL lemma bounds; zero-shuffle
matrix-literal expression; similarity.jl_project) joins the
r10-priority queue — 132 entries, 35 queued.

Round-9 twenty-sixth amendment: ``rag_pipeline`` (RAG retrieval
composition: overlapping chunking → exact-dup chunk collapse → BM25
top-5 over the CHUNK corpus, one oracle — the retrieval-side
composition gate beside ``curation_pipeline`` and ``star_pipeline``;
the BM25 oracle is now parameterized over its scored relation) joins
the r10-priority queue — 133 entries, 36 queued.

Round-9 twenty-seventh amendment: ``doc_datasheet`` (one-row corpus
datasheet — Gebru et al. 2021 "Datasheets for Datasets": sizes,
diversity, exact-duplicate mass, short-doc fraction in two map-side
aggregate scans) joins the r10-priority queue — 134 entries, 37
queued.

Round-9 twenty-eighth amendment: ``doc_title_fuzzy_match`` (record
linkage / fuzzy entity matching: char-5-gram Jaccard via the
AllPairs prefix filter over 40-char titles vs one-char-dropped
copies; dedup.char_ngrams + fuzzy_string_pairs over the extracted
allpairs_jaccard_sets core; gated against the brute-force all-pairs
oracle — at sf0.01 it recovers all 100 true links with zero false
positives at t=0.6) joins the r10-priority queue — 135 entries, 38
queued. (Retuned same-round to char 5-grams at t=0.7 — trigram
prefixes on 40-char strings are too common for AllPairs selectivity;
18 s -> 1.8 s at sf0.1, links unchanged.)

Round-9 twenty-ninth amendment: ``session_window_agg`` (the NATIVE
``session_window`` aggregation beside the lag+running-sum
``sessionize`` — both construction styles of gap sessionization now
gated) and ``event_value_quantiles_approx`` (Spark's built-in
Greenwald-Khanna ``percentile_approx`` as a bounded-tolerance gate:
exact ``percentile_disc`` values hash-checked, approx estimates'
exact ranks asserted within 2x the documented n/accuracy budget —
the KLL-gate convention applied to the native sketch) join the
r10-priority queue — 137 entries, 40 queued.

Round-10 rotation (consolidation round — NO new gates; burns the
driver-verification queue down to zero): seats 1-40 are the entire
r9 queue (every entry that had never had a driver CORRECTNESS row);
seat 41 re-seats ``star_pipeline`` (operator changed:
``build_star`` materializes the shared cleaning lineage once — then
behind a ``checkpoint_clean=True`` flag, now on every call — so the
per-rollup re-execution collapses to one corpus scan;
values identical, plan shape changed, re-seat policy applies); seats
42-50 take the nine most senior r8-green entries
(``hourly_event_rollup`` … ``event_moving_avg``). The tail leads
with the remaining 38 r8-green seniors in r11-priority order (the
trailing-3-round invariant requires each to re-seat by r11), then
the 48 r9-green entries. Queue math after this round: 0 never-seated
entries; r11 owes 38 seats to seniors, leaving 12 for new/changed
gates. Also this round (operator fixes, all within the window):
``part_avg_qty_outliers`` sums extendedprice as exact BIGINT cents
(order-independent; the ``customer_idle_rich`` convention) so the
rounded output can't flip on a .005 boundary between engines;
``doc_allpairs`` / ``doc_title_fuzzy_match`` gain the PPJoin length
filter (provably lossless candidate pruning) plus a documented
threshold floor; ``doc_token_ids`` / ``doc_bpe_roundtrip``'s encoder
now flags the end-of-word sentinel positionally (a corpus token
equal to the sentinel byte sequence encodes through the vocab path
instead of breaking the decode round trip).

Round-11 first amendment: ``train_export_pipeline`` (the
tokenize-side end-to-end composition gate beside
``curation_pipeline`` / ``rag_pipeline`` / ``star_pipeline``: exact
dedup over a corpus with planted re-keyed copies → BPE token-id
encode of the survivors → id-budget sequence packing on REAL
tokenizer lengths (the new ``corpus_prep.place_sequences`` face,
which ``pack_sequences`` now aggregates) → deterministic
shuffled-shards layout over the sequences; per-sequence id checksum
rides all four stages; one lazy plan-constants oracle) joins the r11
window — 138 entries.

Round-11 rotation: the window seats the 38 entries whose last driver
row is r8 (the seniors the trailing-3 invariant owes seats by this
round, in staleness-then-seat order), the new
``train_export_pipeline`` gate, and the 11 most senior r9-green
entries (``doc_hh_candidates`` … ``doc_neardup_clusters``). The tail
leads with the remaining 38 r9-green entries (r12-priority order),
then the 50 r10-green entries. Queue math after this round: r12 owes
the 38 r9-green tail entries seats, leaving 12 for new/changed
gates; ``tests/test_rotation_schedule.py`` now asserts the FORWARD
invariant too (the checked-in window must pre-seat everything that
would exceed trailing-3 at the next round).

Round-11 second amendment: ``doc_lang_id_ngram`` (the canonical
N-GRAM language ID the stopword-ratio ``doc_lang_id`` proxies:
Cavnar & Trenkle 1994 per-language char-trigram rank profiles +
out-of-place distance, argmin prediction with deterministic ties,
all-integer arithmetic under one self-contained relational oracle —
no plan constants; textstats.char_ngram_profiles / lang_id_ngram)
takes window seat 50; ``doc_neardup_clusters`` (r9-green, owed by
r12 anyway) moves to the tail head — 139 entries, r12 owes the 39
r9-green tail heads, 11 seats of slack.

Round-12 rotation (structural change, r11 verdict item 3): ``ORDER``
is now GENERATED — ``tools/make_rotation.py --write`` derives the
schedule from the committed driver CORRECTNESS ledger (owed entries
stalest-first, then the most senior still-green re-seats, tail in
staleness order) and emits ``plans/rotation_order.py``, which this
module imports. The reseat is one command per round; hand edits to
the schedule are gone. The r12 window seated the 5 new r12 gates plus
all 39 then-owed r9-last-green entries plus 6 senior r10-green
re-seats; the r13 window (generated this round) seats the 44 entries
whose last driver-green is r10, stalest first, plus 6 re-seats.
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
    #: the query ran at); or None for the driver's rows-only check.
    oracle: str | Callable[[str], str] | None
    description: str


_REGISTERED: list[QuerySpec] = [
    # ---- re-seated from the r7 tail (last driver row: r6) ----
    QuerySpec(
        "hourly_event_rollup", R.q_hourly_event_rollup, R.ORACLE_HOURLY_EVENT_ROLLUP,
        "tumbling-window rollup in batch form",
    ),
    QuerySpec(
        "doc_text_stats", P.q_doc_text_stats, P.ORACLE_DOC_TEXT_STATS,
        "token/char counts + diversity (text analysis); carries the "
        "folded doc_token_counts surface since r15 (n_bpe_tokens + "
        "tokens_per_word)",
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
        "lag window per user; carries the folded event_moving_avg "
        "surface (7-row trailing frame, identical window spec) since "
        "the r16-staging fold at r15",
    ),
    # event_moving_avg RETIRED at r15 (fold B paying for an r16 seat):
    # event_lag_delta windows on the identical spec and now carries
    # mavg_7. Library query + oracle kept in relational.py.
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
    # ---- new this round ----
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
    # emb_cosine_topk RETIRED at r16: folded into emb_quantized_topk
    # (tier='float32' carries it verbatim); library query stays
    # oracle-pinned by tests/test_retired_library_queries.py.
    QuerySpec(
        "emb_ann_topk", M.q_emb_ann_topk, M.ORACLE_EMB_ANN_TOPK,
        "approximate top-k via sign-random-projection LSH buckets "
        "(re-seated: norm-hoist change this round)",
    ),
    # ---- changed this round (operator or oracle touched) ----
    QuerySpec(
        "doc_chunk_dedup", C.q_doc_chunk_dedup, C.ORACLE_DOC_CHUNK_DEDUP,
        "cross-document chunk-sharing stats, CCNet-style "
        "(corpus_prep.chunk_dedup_stats)",
    ),
    # doc_stratified_sample RETIRED at r16: folded into
    # doc_gumbel_sample (method='stratified' carries it verbatim);
    # library query stays oracle-pinned by
    # tests/test_retired_library_queries.py.
    QuerySpec(
        "doc_corpus_profile_hll", M.q_doc_corpus_profile_hll,
        M.ORACLE_DOC_CORPUS_PROFILE_HLL,
        "per-lang corpus profile (full exact columns — subsumes the "
        "retired doc_corpus_profile gate, r14 fold) + HLL sketch "
        "estimates asserted within 3x their documented rsd",
    ),
    # ---- stable window entries ----
    QuerySpec(
        "emb_ivf_topk", M.q_emb_ivf_topk, M.oracle_emb_ivf_topk,
        "IVF cluster-pruned approximate top-k; centroids are trained "
        "once and embedded in the lazily-built DuckDB oracle as plan "
        "constants (full hash gate)",
    ),
    QuerySpec(
        "emb_quantized_topk", M.q_emb_quantized_topk, M.ORACLE_EMB_QUANTIZED_TOPK,
        "exact top-k over the float32 AND int8-quantized corpus, "
        "tier-tagged (r16 fold superset — carries the retired "
        "emb_cosine_topk verbatim as tier='float32'; deterministic "
        "integer quantization keeps the full hash gate)",
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
        "deterministic document samplers, method-tagged (r16 fold "
        "superset — Gumbel-top-k weighted sample plus the retired "
        "doc_stratified_sample verbatim as method='stratified'; "
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
        "snapshot-diff status rollup folded to the same shape at r14 "
        "(operators/snapshot.dq_profile + snapshot_diff)",
    ),
    # ---- tail: rotated out of the driver window this round (still ----
    # ---- verified every round by the local DuckDB-oracle suite)   ----
    QuerySpec(
        # new gate left just outside the full window — first in line
        # for the r9 rotation; DuckDB-verified locally + pytest
        # containment-guarantee unit in the meantime
        "doc_hh_candidates", C.q_doc_hh_candidates,
        C.ORACLE_DOC_HH_CANDIDATES,
        "salt-bucketed heavy-hitter candidate generation with exact "
        "top-m containment guarantee (sketches.heavy_hitter_candidates)",
    ),
    QuerySpec(
        # new gate, same r9-window priority as doc_hh_candidates
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
    # doc_token_counts RETIRED at r15 (window-saturation fold): its
    # whitespace/BPE-ish count surface folded into doc_text_stats,
    # which now carries n_bpe_tokens + tokens_per_word (n_tokens IS
    # n_ws_tokens). Library query + oracle kept in ml_ops.
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
]



# ---- round-9 gates (plans/star_ops.py, plans/screen_ops.py) ----
_REGISTERED += [
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
]

# ---- r10-queued gates (registered this round, tail-head priority) ----
_REGISTERED += [
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
]

_REGISTERED += [
    QuerySpec(
        "doc_token_ids", C.q_doc_token_ids, C.oracle_doc_token_ids,
        "LM input prep: ordered subword-id encoding via the trained "
        "BPE segmentation + lexicographic vocab; order itself is "
        "hash-gated (bpe.encode_token_ids; lazy oracle embeds the "
        "model as plan constants)",
    ),
]

_REGISTERED += [
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
]

_REGISTERED += [
    QuerySpec(
        "emb_pq_topk", SC.q_emb_pq_topk, SC.oracle_emb_pq_topk,
        "product-quantization ADC top-k: m-subspace codebooks, "
        "code-bandwidth scan, table-lookup distances (similarity.pq_*; "
        "lazy oracle embeds codebooks + ADC tables as plan constants)",
    ),
]

_REGISTERED += [
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
]

_REGISTERED += [
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
]

_REGISTERED += [
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
]

_REGISTERED += [
    QuerySpec(
        "doc_hashed_classifier", CR.q_doc_hashed_classifier,
        CR.oracle_doc_hashed_classifier,
        "bag-of-hashed-words linear quality classifier, idf + weights "
        "as plan constants, fixed-point sparse dot (fastText shape; "
        "classifier.score_hashed_logreg; lazy oracle)",
    ),
]

_REGISTERED += [
    QuerySpec(
        "emb_kmeans_train", M.q_emb_kmeans_train, M.ORACLE_EMB_KMEANS_TRAIN,
        "distributed fixed-point Lloyd's k-means; the static oracle "
        "replays the whole training fixpoint from the raw table "
        "(similarity.kmeans_train_fx)",
    ),
]

_REGISTERED += [
    QuerySpec(
        "supplier_sole_late", R.q_supplier_sole_late,
        R.ORACLE_SUPPLIER_SOLE_LATE,
        "TPC-H Q21 shape: EXISTS + NOT EXISTS correlated subqueries, "
        "Catalyst semi/anti decorrelation gated on the same SQL text",
    ),
]

_REGISTERED += [
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
]

_REGISTERED += [
    QuerySpec(
        "doc_bpe_roundtrip", C.q_doc_bpe_roundtrip,
        C.ORACLE_DOC_BPE_ROUNDTRIP,
        "BPE encode->decode round trip vs the BPE-blind raw-text "
        "oracle (bpe.decode_token_ids)",
    ),
]

_REGISTERED += [
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
]

_REGISTERED += [
    QuerySpec(
        "doc_dedup_spans", CR.q_doc_dedup_spans, CR.ORACLE_DOC_DEDUP_SPANS,
        "exact duplicated-span removal: drop tokens covered by "
        "cross-doc duplicated 5-grams, ordered reassembly "
        "(curation.remove_duplicate_spans)",
    ),
]

_REGISTERED += [
    QuerySpec(
        "doc_hybrid_search", CR.q_doc_hybrid_search,
        CR.ORACLE_DOC_HYBRID_SEARCH,
        "hybrid retrieval: BM25 candidates re-ranked by PRF embedding "
        "cosine (search.hybrid_prf_topk)",
    ),
]

_REGISTERED += [
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
]

_REGISTERED += [
    QuerySpec(
        "emb_jl_project", M.q_emb_jl_project, M.ORACLE_EMB_JL_PROJECT,
        "JL +/-1 random projection 64->16, coordinates + adjacent-pair "
        "distance ratios hash-gated (similarity.jl_project)",
    ),
]

_REGISTERED += [
    QuerySpec(
        "rag_pipeline", CR.q_rag_pipeline, CR.ORACLE_RAG_PIPELINE,
        "RAG retrieval composition: chunk -> dedup -> BM25 over the "
        "chunk corpus, one oracle",
    ),
]

_REGISTERED += [
    QuerySpec(
        "doc_datasheet", P.q_doc_datasheet, P.ORACLE_DOC_DATASHEET,
        "one-row corpus datasheet: sizes, diversity, dup mass, "
        "short-doc fraction in two aggregate scans",
    ),
]

_REGISTERED += [
    QuerySpec(
        "doc_title_fuzzy_match", M.q_doc_title_fuzzy_match,
        M.ORACLE_DOC_TITLE_FUZZY_MATCH,
        "fuzzy entity matching: char-5-gram AllPairs join of titles "
        "vs corrupted copies, brute-force oracle "
        "(dedup.fuzzy_string_pairs)",
    ),
]

_REGISTERED += [
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
]

_REGISTERED += [
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
]

# round-12 gate: content-defined chunking (LBFS/FastCDC at the token
# level) — the insertion-robust dedup primitive fixed-stride chunking
# can't provide; boundaries re-synchronize within one window of an
# edit, pinned against an edited-mirror corpus.
_REGISTERED += [
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
        "with the folded doc_heaps_fit vocabulary-growth surface "
        "(bucketed cumulative tokens/types + ln-ln fit) since the "
        "r16-staging fold at r15 (textstats.zipf_fit + heaps_fit)",
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
    # doc_heaps_fit RETIRED at r15 (fold A paying for an r16 seat):
    # doc_zipf_fit now joins the bucketed Heaps growth surface per
    # language. Library query + oracle kept in corpus_ops.
    # ---- new at r14: the r13-staged surface, seated under the
    # ---- window-saturation fold (r13 verdict item 2 — five owed
    # ---- near-duplicate gates retired/folded into their supersets:
    # ---- doc_corpus_profile -> doc_corpus_profile_hll,
    # ---- doc_length_quantiles -> doc_length_quantiles_kll,
    # ---- snapshot_diff -> doc_dq_profile, doc_lm_score ->
    # ---- doc_lm_score_ref, emb_cluster_assign ->
    # ---- emb_cluster_profile — so the registry stays at the
    # ---- 50-seat/trailing-3 steady-state capacity of 150)
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
    # ---- new at r15: seated under the doc_token_counts ->
    # ---- doc_text_stats fold (r14 verdict item 2). Seat arithmetic:
    # ---- 49 r12-last-green entries were owed r15 seats; the fold
    # ---- retires one of them, so 48 owed + these 2 never-seated
    # ---- gates fill the 50-seat window exactly.
    QuerySpec(
        "emb_hard_negatives", M.q_emb_hard_negatives,
        M.ORACLE_EMB_HARD_NEGATIVES,
        "contrastive hard-negative mining: per-anchor cosine top-k "
        "inside the [lo, hi) band that EXCLUDES planted near-dups "
        "above the ceiling (Karpukhin EMNLP'20 / ANCE ICLR'21; "
        "similarity.hard_negatives; IVF scale tier hard_negatives_ivf "
        "equals brute at full probe, pytest-pinned)",
    ),
    QuerySpec(
        "er_fs_scores", M.q_er_fs_scores, M.ORACLE_ER_FS_SCORES,
        "Fellegi-Sunter record-linkage scoring (JASA 1969): closed-"
        "form labeled m/u estimation on a family slice + fixed-order "
        "log-likelihood-ratio scoring over the edit-gate pair corpus "
        "(operators/linkage.fs_weights/fs_score)",
    ),
    # ---- new at r16: the three gates staged (and end-to-end pinned)
    # ---- at r15. Seat arithmetic: the two folds executed at r15
    # ---- (doc_heaps_fit -> doc_zipf_fit, event_moving_avg ->
    # ---- event_lag_delta) left 47 r13-last-green entries owed r16
    # ---- seats; 47 owed + these 3 never-seated gates fill the
    # ---- 50-seat window exactly, and the registry lands at 150 =
    # ---- steady-state capacity (50 seats x trailing-3 window).
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

# STAGED FOR r17 (seat arithmetic, planned AND executed at r16 so
# seating never blocks a round): after the r16 window (47 owed + 3
# new) the r14-last-green entries are owed r17 seats. The two fold
# candidates pre-identified at r15 passed the near-duplicate-honesty
# check (genuine supersets, both component oracles embedded verbatim
# as CTEs — the doc_zipf_fit convention; superset-honesty pins in
# tests/test_retired_library_queries.py) and were EXECUTED at r16:
#   fold A: emb_cosine_topk -> emb_quantized_topk (same probes, same
#           k, same ranking; the superset is the tier-tagged union,
#           tier='float32' carrying the retired gate verbatim), and
#   fold B: doc_stratified_sample -> doc_gumbel_sample (the engine's
#           two deterministic md5-derived document samplers,
#           method-tagged union with null-padded columns),
# leaving 48 owed + 2 staged = 50 r17 seats and 148 + 2 = 150 entries
# — steady-state capacity again. r17 is therefore mechanical: add the
# two QuerySpecs below + make_rotation --write.
#   1. ml_ops.q_emb_decontaminate_ivf + oracle_emb_decontaminate_ivf
#      (the IVF tier of the semantic decontamination screen at its
#      PRODUCTION partial-probe setting, 4 of 16 cells — r15 verdict
#      item 4; hash-exact because the lazy callable oracle replays
#      the whole index — centroid literals, (d, cid) assignment,
#      probe fan-out — the oracle_emb_ivf_topk pattern. Full probe
#      would cost exactly the expression tier + a shuffle, certifying
#      nothing new).
#   2. ml_ops.q_emb_kcenter_select + ORACLE_EMB_KCENTER_SELECT
#      (similarity.kcenter_select — Gonzalez'85 farthest-point
#      diversity core-set, Sener & Savarese ICLR'18; the oracle
#      unrolls the whole greedy run as MATERIALIZED CTEs plus the
#      cover assignment, the host_pagerank fixpoint convention).
# Seating each adds its train row to bench.py's trainers list
# (train:kcenter_selection; the decontaminate-IVF face reuses
# train:ivf_index).
#
# STAGED TOWARD r18 (gate + oracle + pins in tree, seatless):
#   1. ml_ops.q_emb_top_pc + ORACLE_EMB_TOP_PC (similarity.top_pc_fx —
#      all-but-the-top spectral profile, Mu & Viswanath ICLR'18;
#      integer-lattice power iteration replayed end-to-end by the
#      oracle).
#   2. corpus_ops.q_doc_fim_transform + ORACLE_DOC_FIM_TRANSFORM
#      (corpus_prep.fim_transform — fill-in-the-middle pretraining
#      transform, Bavarian'22 arXiv:2207.14255; md5-drawn apply/cuts/
#      mode, PSM+SPM layouts, zero-shuffle map-side projection; the
#      oracle replays every byte, pure-Python hashlib replay pinned).
# r18 fold candidates from the r15-green (owed-at-r18) group,
# honesty-REVIEWED at r16 (source read, PLANS r16 close):
#   REJECTED: doc_neardup_clusters+doc_neardup_survivors and
#   doc_exact_dups+doc_dedup_survivors — in each pair the "survivors"
#   gate is a corpus-wide per-LANGUAGE rollup over a differently
#   filtered/normalized corpus, not another face of the same relation;
#   a tagged union of heterogeneous grains would be coverage
#   laundering, not a superset.
#   CANDIDATE A: doc_token_dim -> doc_token_bridge (the dim and edge
#   faces of ONE author/keyword star build — q_doc_token_bridge CALLS
#   q_doc_token_dim (ml_ops.py), so the shared derivation is byte-
#   identical BY CONSTRUCTION, re-verified in source at r16; a
#   part-tagged null-padded union carries both verbatim, the
#   doc_gumbel_sample convention).
#   CANDIDATE B: doc_hh_candidates -> doc_heavy_hitters (two
#   production paths for ONE relation — the exact global top-20
#   lowercased-token counts: same tokens(lowercase=True), _HH_K =
#   _HHC_M = 20, same (n_occ DESC, token) total order, re-verified in
#   source at r16; a path-tagged union — path='cms' carrying the CMS
#   verdict face verbatim, path='salted' the salt-bucketed candidate
#   face with null-padded verdict columns — is the emb_quantized_topk
#   tier-tag precedent exactly).
# Executing A+B at r17 frees the two r18 seats the two staged gates
# above need; arithmetic stays at 150 = capacity.
#
# STAGED TOWARD r19 (gate + oracle + pins in tree, seatless):
#   1. ml_ops.q_emb_mmr_rerank + ORACLE_EMB_MMR_RERANK
#      (similarity.mmr_rerank — Maximal Marginal Relevance
#      re-ranking, Carbonell & Goldstein SIGIR'98; per-query greedy
#      λ·rel − (1−λ)·max-sim-to-selected over bounded candidate
#      lists, picks stay a DataFrame, every round an unrolled CTE in
#      the oracle).
#   2. pipeline_ops.q_doc_readability + ORACLE_DOC_READABILITY
#      (textstats.with_readability — Flesch reading ease +
#      Flesch–Kincaid grade, Flesch'48 / Kincaid'75; letter-run
#      words, vowel-group syllables with silent-e adjustment,
#      zero-shuffle map-side).
# r19 fold candidates (name now, honesty-review in source before
# executing at r18 — the doc_zipf_fit bar applies):
#   CANDIDATE C: emb_pq_topk -> emb_ivfpq_topk (two ADC serving paths
#   over the same probe set; tier-tagged union 'pq'/'ivfpq' with
#   null-padded cluster column — the emb_quantized_topk precedent;
#   both lazy component oracles composed verbatim).
#   CANDIDATE D: doc_char_entropy -> doc_text_stats (same per-doc
#   grain; the superset adds char_entropy/alpha_frac columns, the
#   doc_token_counts fold precedent exactly; component oracle
#   embedded verbatim as a CTE).
#
# STAGED TOWARD r20 (gate + oracle + pins in tree, seatless):
#   1. ml_ops.q_emb_matryoshka_topk + ORACLE_EMB_MATRYOSHKA_TOPK
#      (similarity.matryoshka_topk — prefix-dimension retrieval,
#      Kusupati et al. NeurIPS'22; exact top-k at dims 16/32/64
#      tier-tagged with an in_full_topk agreement flag vs the
#      full-dim tier, the emb_quantized_topk trade-quantification
#      shape; static per-tier-fold oracle).
#   2. pipeline_ops.q_doc_k_anonymize + ORACLE_DOC_K_ANONYMIZE
#      (privacy.k_anonymize — full-domain k-anonymity with
#      suppression, Samarati TKDE'01 / Sweeney IJUFKS'02; the whole
#      16-vector generalization lattice costed in ONE grouping-sets
#      pass, minimal (total, lex) vector chosen under a 2%
#      suppression budget; the oracle recomputes every candidate and
#      replays the choice).
# r20 fold candidates (honesty-review in source before executing at
# r19):
#   CANDIDATE E: doc_bpe_fertility -> doc_unigram_fertility (the
#   superset ALREADY joins both tokenizers' per-lang fertility side
#   by side; verify every component column — n_words/n_chars/any
#   subword counts — is carried verbatim before executing).
#   CANDIDATE F: doc_rolling_hash -> doc_fingerprint (same per-doc
#   grain, the order-insensitive bag-md5 and order-sensitive
#   Rabin-Karp faces of ONE fingerprint relation; superset emits
#   (doc_id, fingerprint, rolling_fp), both component oracles as
#   CTEs).
_BY_NAME: dict[str, QuerySpec] = {q.name: q for q in _REGISTERED}
assert len(_BY_NAME) == len(_REGISTERED), "duplicate registry names"

#: The verification schedule: the first 50 names are the driver
#: window, the rest the tail. GENERATED by ``tools/make_rotation.py
#: --write`` from the committed CORRECTNESS ledger (r12 on) — never
#: hand-edited. A gate registered after the last ``--write`` prepends
#: to the window (never-seated entries MUST seat) until the schedule
#: is regenerated; ROTATION.json's committed-artifact test then
#: forces the regeneration before the round ships.
from scraping_etl_spark.plans.rotation_order import ORDER as _SCHEDULED

ORDER: list[str] = (
    [q.name for q in _REGISTERED if q.name not in set(_SCHEDULED)]
    + [n for n in _SCHEDULED if n in _BY_NAME]
)

assert sorted(ORDER) == sorted(_BY_NAME), (
    "ORDER must be a permutation of the registered names; missing="
    + str(sorted(set(_BY_NAME) - set(ORDER)))
    + " extra=" + str(sorted(set(ORDER) - set(_BY_NAME)))
)

QUERIES: list[QuerySpec] = [_BY_NAME[n] for n in ORDER]


def queries_map() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in QUERIES}


def oracle_sql_map(sf_dir: str) -> dict[str, str]:
    """Oracle SQL per query name, with every callable oracle built for
    ``sf_dir`` — the dir the queries are compared at."""
    return {
        q.name: (q.oracle(sf_dir) if callable(q.oracle) else q.oracle)
        for q in QUERIES
        if q.oracle is not None
    }
