"""Registry-wide plan invariants — the per-round plan audit, mechanized.

Every round the scale review asks the same three questions of every
query: did a row-at-a-time Python UDF sneak into a hot path, did a join
degrade to a cartesian product, and did a plan grow a shuffle it didn't
have before. Until round 6 those were answered by hand (and only for the
queries someone thought to look at); this suite asks them of the ENTIRE
registry on every test run, so the answer is a CI fact rather than a
review finding.

One construction pass over the registry (plans only — nothing is
executed beyond what a query's own construction requires, e.g. the
k-means driver loop). Streaming gates are excluded by DECLARED
membership (queries.STREAMING_SNAPSHOT, set at the registration site):
their returned frame is a snapshot-read of a sink the query already
materialized, so its batch plan says nothing about the streaming
pipeline (the streaming suite asserts on those pipelines directly).
The exclusion is not name-based — test_audit_flags_misnamed_stream_query
proves a non-streaming query named q_stream_* WOULD be audited.
"""

from __future__ import annotations

import re

from hadoop_gpu_spark import plans
from hadoop_gpu_spark.queries import QUERIES, STREAMING_SNAPSHOT

# Queries whose plan legitimately contains a BroadcastNestedLoopJoin or
# CartesianProduct. Every entry is one of two sanctioned shapes:
#  - scalar/stats broadcast: crossJoin(broadcast(<1-row or k-row frame>))
#    carrying an aggregate the main scan compares against (TPC-H scalar
#    subqueries; corpus stats for tf-idf / mixture weights);
#  - intentional all-pairs-by-design: brute-force ANN baseline, gram
#    matmul, ADC lookup against a broadcast LUT, bounded range join.
# Growing this set is a conscious act: a new query that trips the
# assertion must either lose the cartesian or be added HERE with its
# justification, in review.
# r07: q_unigram_logprob / q_ppl_buckets LEFT the set — their corpus
# total now rides the frequency model (a global window over the
# |terms|-row frame) instead of a crossJoined scalar, so the nested loop
# is gone along with the dual-branch recompute.
# r08: q_tfidf_topterms LEFT the set — document frequency is now
# COUNT(*) OVER (PARTITION BY term) on the tf frame and n_docs a
# construction-time literal, so both the crossJoin and the vocab-sized
# broadcast are gone (VERDICT r07 #3).
INTENTIONAL_NESTED_LOOP = {
    "q11_important_stock",     # scalar subquery threshold (broadcast 1-row)
    "q20_potential_promotion", # scalar half-sum threshold (broadcast 1-row)
    "q22_global_sales",        # avg-balance scalar (broadcast 1-row)
    "q_ann_ivf",               # centroid table broadcast to every probe row
    "q_ann_pq",                # broadcast ADC LUT per query vector
    "q_ann_topk",              # brute-force baseline: all-pairs BY DESIGN
    "q_embedding_outliers",    # corpus moment scalar (broadcast 1-row) over
                               # the cached distance frame
    "q_matmul_gram",           # gram product: all column-pairs by design
    "q_range_join",            # bounded interval join (broadcast ranges)
    # r12 registrations:
    "q_bm25_topk",             # corpus stats scalar (broadcast 1-row agg
                               # crossJoined onto the post-filter candidate
                               # frame — the fold-in that replaced the
                               # construction-time collect)
    "q_semantic_dedup",        # broadcast 8-row centroid table cross join
                               # (bounded BY DESIGN: k centroids, never
                               # corpus x corpus)
    # r14 registration:
    "q_nb_lang_confusion",     # doc x class scoring base: broadcast
                               # |classes|-row prior table cross-joined
                               # onto the doc frame, and the vocab grid's
                               # term x class expansion (bounded by the
                               # LABEL SET, never corpus x corpus — the
                               # zero-token-doc LEFT-join base from the
                               # module docstring)
    # r16 registrations (the r15 staged gates; hinted frames registered
    # in ALLOWED_MODULE_BROADCAST_HINTS since r15):
    "q_ann_ivfpq",             # coarse centroid table (n_centroids rows)
                               # broadcast-crossed onto query/corpus rows
                               # — model-sized BY DESIGN, never corpus x
                               # corpus
    "q_rerank_tfidf",          # bm25 stage-1 corpus-stats scalar + the
                               # idf lattice's 1-row doc-count aggregate
                               # (broadcast 1-row cross joins, the
                               # q_bm25_topk fold-in pattern)
    # late-r16 registrations (the r16 staged gates; hinted frames
    # registered in ALLOWED_MODULE_BROADCAST_HINTS at staging):
    "q_morelikethis",          # seed-term table (n_seeds × max_query_terms
                               # rows BY CONSTRUCTION — the term cap is the
                               # operator's scale lever) + the 1-row corpus
                               # stats scalar, both broadcast cross joins
    "q_hybrid_rrf",            # composes the morelikethis lexical leg
                               # (above) and the brute-force dense leg
                               # (all-pairs BY DESIGN over |seeds| query
                               # rows — the q_ann_topk baseline shape)
    # r16 continuation registrations:
    "q_morelikethis_filtered", # same bounded frames as q_morelikethis
                               # (seed-term table + 1-row corpus stats);
                               # the knobs only FILTER seed-term
                               # eligibility, tightening the fanout
    "q_bm25f_topk",            # the q_bm25_topk corpus-stats scalar
                               # pattern: a broadcast 1-row
                               # (N, tt_title, tt_body) aggregate
                               # cross-joined onto the post-filter
                               # candidate frame
}

# Exchange-count budget per bench HEADLINE query (hash/range/broadcast
# and round-robin alike — every Exchange node in the initial formatted
# plan, pinned at suite scale; node count is a plan-shape property, not
# a data-size property). A diff in either direction is information:
# more exchanges = a shuffle regression the bench will pay for at sf0.1
# and a cluster would pay for at 100 TB; fewer = the budget is stale and
# should be re-pinned with the win noted. q_kmeans shows 0 because its
# driver loop already ran at construction — the returned frame is a
# local k-row scan (the per-iteration plans are asserted in test_ml).
HEADLINE_EXCHANGE_BUDGET = {
    "q01_pricing_summary": 1,
    "q_wordcount": 1,
    "q_join_star": 1,
    "q_value_histogram": 1,
    # r13: was 1 — but that single exchange fed a GLOBAL row_number
    # window (whole table through ONE task, the worst sf10 soak member
    # at 11.3x). Now the deterministic two-pass bucketed rank: the
    # corpus crosses 2 exchanges (pass-1 count aggregate in the cache
    # lineage + the pass-2 join/window on __bucket); the other 4 ride
    # the |price-buckets|-row totals frame (~9k rows at any SF).
    "q_total_order_sort": 6,
    "q_topk": 0,               # TakeOrderedAndProject — no full sort exchange
    "q_events_hourly": 1,
    "q_dedup_exact": 1,
    "q_dedup_minhash": 1,
    "q_ann_topk": 2,
    "q_kmeans": 0,
    "q03_shipping_priority": 1,
    "q05_local_supplier_volume": 1,
    "q_dedup_simhash": 1,
    "q09_product_type_profit": 1,
    "q13_customer_distribution": 2,
    "q21_waiting_orders": 3,
    "q_winnow_fingerprint": 1,
    # r13: was 2 — the hierarchical-cumsum rewrite (driver collect of one
    # long per bucket → two-level distributed prefix sum) adds 5 exchanges
    # that ALL ride the |buckets|-row totals frame (cache build, two
    # window partitions, one groupBy, one single-partition global window
    # over the |superbuckets|-row level-2 frame). The CORPUS still crosses
    # exactly 2 exchanges, same as before: the pass-2 window on __bucket
    # (shared with the base join) and the final groupBy(seq_id).
    "q_sequence_pack": 7,
    "q_ann_lsh": 2,
    # r06: was 7 — the mixture-stats scalars moved from a second plan
    # branch (which recomputed the whole upstream pipeline) onto a global
    # window over the |langs|-row aggregate.
    "q_pretrain_pipeline": 4,
}

# Non-HEADLINE queries whose plan shape is pinned because a scale defect
# was found and fixed there — the pin keeps the fix from regressing.
# r07 pins (gates: chunking/normalize zero-exchange map-only; domain_cap
# one keyed window exchange; embedding_outliers' one exchange is the
# 64-row centroid aggregate — the z pass is map-only over the cached
# frame). r08 pins:
#  - the dual-branch eager_persist quartet (q11/q15/q20/q22): both plan
#    branches read one InMemoryRelation. NOTE the count convention for
#    cached plans: the formatted plan prints the cached subtree's
#    lineage (its recompute path) including an AQE initial+final pair,
#    so the pinned number counts the cache-BUILD shuffle twice plus the
#    tiny post-cache aggregate shuffle — e.g. q15's 3 = 1 real
#    |suppliers|-row build shuffle (shown x2) + 1 scalar-max mini
#    shuffle. The pin is still a plan-shape invariant; it just isn't
#    the executed-shuffle count.
#  - q_unigram_logprob 3 -> 2 / q_ppl_buckets 4 -> 3 (r08 win): with the
#    vocab broadcast hint dropped, the suite-scale planner broadcasts
#    the SMALL side by size stats and the downstream doc_id aggregate
#    rides the existing partitioning — one fewer exchange; at corpus
#    scale AQE swaps in a term-keyed shuffle join instead of dying on
#    the 8 GB broadcast cap.
#  - q_unigram_logprob 2 -> 3 / q_ppl_buckets 3 -> 4 (r09, display-only:
#    VERDICT r08 #1 fix): freq is now eager_persist + a construction-
#    time scalar total, killing the |vocab|-row single-partition global
#    window (the last unbounded-cardinality single-task pass). The +1 is
#    the cached model's build shuffle printing twice (AQE initial+final
#    pair inside the InMemoryRelation display, the q15 convention);
#    executed post-cache work went DOWN — no window sort, same one
#    probe-side scan, one doc_id aggregate exchange.
#  - q_tfidf_topterms (r08 rewrite): 3 = tf aggregate + term window +
#    doc_id rank window — ONE tokenize pass, no vocab broadcast, no
#    scalar branch (was: two tokenize subtrees + crossJoin).
#  - q_boilerplate_ratio: 2 = gram-frequency aggregate + (unhinted)
#    stats join staying broadcast at suite scale; doc_id agg rides scan
#    partitioning.
#  - r08 gates: q_funnel is exactly ONE entity-keyed exchange for any
#    step count (the operator's core claim); q_pq_train's driver loop
#    ran at construction — the returned frame is a local 128-row scan
#    (per-iteration plans asserted in test_pending_gates).
EXTRA_EXCHANGE_BUDGET = {
    "q20_potential_promotion": 3,
    "q_unigram_logprob": 3,
    "q_ppl_buckets": 4,
    "q_chunk_documents": 0,
    "q_domain_cap": 1,
    "q_embedding_outliers": 1,
    "q_text_normalize": 0,
    "q11_important_stock": 3,
    "q15_top_supplier": 3,
    "q22_global_sales": 3,
    "q_tfidf_topterms": 3,
    "q_boilerplate_ratio": 2,
    "q_funnel": 1,
    "q_pq_train": 0,
    # r14 registrations (measured at registration): hll = token-grid
    # groupBy + register groupBy; sparse_allpairs = the inverted-index
    # self-join lattice off the eager_persist'd posting frame;
    # dup_spans (recomposed r15, 5 -> 6): freq-pass combined-count
    # groupBy + the SHUFFLE_HASH-hinted semi-join pair (the +1: the
    # hint trades the sub-threshold broadcast for a position-frame
    # shuffle so the at-scale regime hash-probes instead of sorting
    # 427M rows — decomposition at dedup/substr.py) + the width-k
    # bucket groupBy + the per-doc bucket window — positions collapse
    # ~k-fold map-side before the bucket exchange, and nothing
    # corpus-persisted remains;
    # interval = the (user, bucket) hash-join pair; bpe counts = vocab
    # groupBy + encoded-subword re-aggregate off the persisted vocab;
    # nb = the train-count / prior / apply / doc-base aggregates over
    # the doc x class LEFT-join lattice. Every exchange moves counts,
    # buckets, or the model grid — never document text.
    "q_hll_distinct": 2,
    "q_sparse_allpairs": 6,
    "q_dup_spans": 6,
    "q_interval_overlap": 2,
    "q_bpe_token_counts": 4,
    # 13 = 12 at registration + the explicit width-pinned term
    # repartition added after the r14 sf30 rung caught AQE's byte-sized
    # coalescing serializing the CPU-dense scoring join (sf10
    # nb_confusion 152.7s -> 16.6s; decomposition at the nbayes.py pin)
    "q_nb_lang_confusion": 13,
    # candidates-only verify rewrites (r08 adjudication): the counts
    # include the cached LSH-pair and candidate-fetch relations' lineage
    # (initial+final AQE pairs inside each InMemoryRelation display, per
    # the convention above); what executes post-cache is the id-union
    # distinct + the two cache-read joins.
    "q_dedup_ngram_jaccard": 8,
    "q_dedup_edit_distance": 8,
    # r09 gates: the sketch is partial-agg + final-agg on (group, bucket)
    # rows plus the ≤|groups|·n_buckets quantile resolve; the as-of gate
    # is two filter-pushed event passes meeting in one keyed window join;
    # the CTAS read-back join is co-bucketed (the write shuffles happened
    # at CREATE time, outside this plan) — the 1 is the final mktsegment
    # aggregate.
    "q_quantile_sketch": 2,
    "q_asof_event_state": 2,
    "q_bucketed_ctas": 1,
}


# Parquet-scan-node count per query (the same initial-formatted-plan
# shape convention as the exchange budgets; cached subtrees print their
# recompute lineage, so cache-build scans count once per display). This
# is the DUAL-BRANCH-RECOMPUTE detector, mechanized: the recurring
# defect class of rounds 6-8 (q11/q15/q20/q22's scalar branches,
# q_tfidf's tokenize×2, the dedup verify pair) always manifests as a
# plan whose scan count exceeds the number of semantically distinct
# passes — and every instance so far was found by a MANUAL scan audit
# (r07's found q15/q22, the r08 judge found q_tfidf). This pin makes
# the audit run on every test session: a regression or a new instance
# fails the suite the day it is written, not at round review.
#
# Counts above 1 are all adjudicated (r07/r08): multi-TABLE joins scan
# each table once (q08's 8 = TPC-H Q8's eight tables; q05's 6); the
# two-pass shapes are semantically distinct passes over the same table
# (q04 orders+lineitem; q17's per-part average model + detail pass —
# partial-agg'd, cheaper in shuffle bytes than the one-scan window
# form; q_bloom_decontaminate's corpus/probe/verify 3; q_ann_ivf's
# assignment/probe/centroid 3 with distinct pushed filters; the
# eager_persist quartet counts its cache-build lineage per the
# convention above). Growing a count is a conscious act: prove the new
# scan is a semantically distinct pass (not a recomputed subtree) and
# re-pin HERE with the justification, in review; a SHRUNK count is a
# win — re-pin and note it.
SCAN_BUDGET = {
    "q_funnel": 1,
    "q_pq_train": 0,
    "q01_pricing_summary": 1,
    "q_wordcount": 1,
    "q_join_star": 4,
    "q_value_histogram": 1,
    # r13: was 1 — the two-pass bucketed rank's pass-1 count aggregate
    # is an eager_persist'd cache build whose lineage counts per the
    # convention; two semantically distinct passes (count scan + rank
    # scan), same as q_sequence_pack's decomposition.
    "q_total_order_sort": 2,
    "q_topk": 1,
    "q_events_hourly": 1,
    "q_dedup_exact": 1,
    "q_dedup_minhash": 1,
    "q_ann_topk": 2,
    "q_kmeans": 0,
    "q03_shipping_priority": 3,
    "q05_local_supplier_volume": 6,
    "q_dedup_simhash": 1,
    "q09_product_type_profit": 4,
    "q13_customer_distribution": 2,
    "q21_waiting_orders": 3,
    "q_winnow_fingerprint": 1,
    # r13: was 1 — the hierarchical-cumsum rewrite made pass 1 an
    # eager_persist'd aggregate, so its cache-build lineage (one corpus
    # regex scan, the pass that previously ran invisibly at construction
    # via collect) now counts per the eager_persist convention. Two
    # semantically distinct passes: token-count scan + token-array scan.
    "q_sequence_pack": 2,
    "q_ann_lsh": 2,
    "q_pretrain_pipeline": 1,
    "q_intersect": 2,
    "q_md5_sample": 1,
    "q_tfidf_topterms": 1,
    "q_unigram_logprob": 2,
    "q_ppl_buckets": 3,
    "q20_potential_promotion": 3,
    "q_embedding_outliers": 1,
    "q_bloom_decontaminate": 3,
    "q_boilerplate_ratio": 2,
    "q_near_dedup_survivors": 1,
    "q04_order_priority": 2,
    "q06_forecast_revenue": 1,
    "q07_volume_shipping": 6,
    "q08_market_share": 8,
    "q10_returned_items": 4,
    "q11_important_stock": 1,
    "q12_priority_shipping": 2,
    "q14_promo_effect": 2,
    "q15_top_supplier": 2,
    "q16_parts_supplier_counts": 3,
    "q17_small_quantity_revenue": 3,
    "q18_large_orders": 3,
    "q19_discounted_revenue": 2,
    "q22_global_sales": 2,
    "q_ann_ivf": 3,
    "q_dedup_edit_distance": 2,
    "q_dedup_ngram_jaccard": 2,
    "q_grep": 1,
    "q_join_broadcast": 2,
    "q_join_override": 2,
    "q_join_semi": 2,
    "q_join_anti": 2,
    "q_join_outer_counts": 2,
    "q_secondary_sort": 1,
    "q_field_selection": 1,
    "q_json_extract": 1,
    "q_descriptor_agg": 1,
    "q_uniq_value_count": 1,
    "q_except": 2,
    "q_union_distinct": 2,
    "q_text_stats": 1,
    "q_lang_id_confusion": 1,
    "q_quality_score": 1,
    "q_dedup_minhash_pairs": 1,
    "q_matmul_gram": 2,
    "q_asof_join": 2,
    "q_sessionization": 1,
    "q_range_join": 1,
    "q_inverse_map": 1,
    # r14 restructure kept the budget at 1: TakeOrderedAndProject already
    # emits a single partition, so the 20-row collect_list/posexplode rank
    # attachment that replaced the vocabulary-sized global rank window
    # plans with NO new exchange
    "q_grep_ranked": 1,
    "q_pi_estimator": 0,
    "q_terasort": 0,
    "q_mapfile_get_closest": 1,
    "q_kvjob_wordcount": 1,
    "q_kvjob_wordcount_pandas": 1,
    "q_rollup": 1,
    "q_moving_window": 1,
    "q_join_expr_composite": 3,
    "q_dedup_simhash_pairs": 1,
    "q_dedup_embedding": 2,
    "q_kmeans_grouped": 1,
    "q_matmul_blocked": 2,
    "q_scalar_funcs": 1,
    "q_cube": 1,
    "q_hybrid_token_stats": 1,
    "q_pipe_lang_counts": 1,
    "q_approx_stats": 1,
    "q_cogroup_join": 2,
    "q_salted_agg": 1,
    "q_connected_components": 0,
    "q02_min_cost_supplier": 3,
    "q_db_count_pageview": 0,
    "q_stratified_sample": 1,
    "q_quality_filter": 1,
    "q_ngram_freq": 1,
    "q_multimodal_decode": 1,
    "q_frame_sample": 1,
    "q_contamination": 2,
    "q_salted_join": 2,
    "q_dedup_fingerprint": 1,
    "q_mixture_weights": 1,
    "q_repetition_ratio": 1,
    "q_token_count_bpe": 1,
    "q_pipes_native_wordcount": 1,
    "q_token_budget_sample": 1,
    "q_epoch_shuffle": 1,
    "q_audio_decode": 1,
    "q_media_probe": 1,
    "q_pii_redact": 1,
    "q_sq8_quantize": 1,
    "q_pq_encode": 1,
    "q_ann_pq": 1,
    "q_chunk_documents": 1,
    "q_domain_cap": 1,
    "q_text_normalize": 1,
    # r09 gates: the sketch's one-corpus-pass claim IS this pin; the
    # as-of gate's 2 = two semantically distinct filter-pushed
    # event_type passes (purchase probe + click state, r08 staging
    # note); the CTAS 2 = the two read-back bucketed tables (the source
    # scans ran at CREATE time, outside the returned plan).
    "q_quantile_sketch": 1,
    "q_asof_event_state": 2,
    "q_bucketed_ctas": 2,
    # r12 registrations: bm25's 2 = token scan + the broadcast 1-row
    # corpus-stats aggregate scan that replaced the construction-time
    # collect (pinned in test_r11_candidates); semantic_dedup's 2 = corpus scan
    # + the 8-row centroid-table scan it cross-joins; bpe's 0 = the
    # merge loop ran at construction over the checkpointed word-count
    # table, the returned frame is the local 8-row merge table (the
    # q_kmeans convention); cms = the sketch family's one-corpus-pass
    # claim, pinned.
    "q_bm25_topk": 2,
    "q_semantic_dedup": 2,
    "q_bpe_merges": 0,
    "q_cms_token_freq": 1,
    # r14 registrations (measured at registration; the streaming pair is
    # exempt from the batch audit like the rest of STREAMING_SNAPSHOT):
    # the three single-scan gates honor their modules' one-corpus-pass
    # claims; interval = 3 filter-pushed event passes (purchase probe +
    # click state + the canonical-bucket recheck's reread); nb = 5
    # projected document passes feeding the train-count / prior / apply
    # / doc-base aggregate lattice (token counts and the
    # |vocab| x |classes| model grid shuffle — document text never does).
    "q_hll_distinct": 1,
    "q_sparse_allpairs": 1,
    # dup_spans 1 -> 2 at r15: the freq branch and the span branch
    # became two INDEPENDENT kernel passes over the document scan —
    # semantically distinct passes (per-doc-distinct combined gram
    # counts vs per-position rows), deliberately UN-sharing the old
    # eager-persisted position frame (24 B/char, ~24x the text at
    # corpus scale; re-hashing at ~1 µs/position is strictly cheaper
    # than materializing). Not the dual-branch-recompute accident this
    # pin exists to catch: the recomputed relation is the cheap scan,
    # not an expensive subtree. sf10: 87s (persisted, one scan) -> ~27s.
    "q_dup_spans": 2,
    "q_interval_overlap": 3,
    "q_bpe_token_counts": 1,
    "q_nb_lang_confusion": 5,
    # r16 registrations (measured at registration): ivfpq = 3
    # semantically distinct embedding passes with distinct pushed
    # filters (corpus assign+encode map pass, centroid table vec_id<16,
    # query set vec_id<8 — the q_ann_ivf convention). rerank = 4 after
    # the r16 optimization (was 5 after the r15-ADVICE persist fix, 16
    # unpersisted before that): the corpus-stats scalar is persisted
    # FIRST and its byte-identical subtree inside bm25 stage 1 rides the
    # cache (two stats scans -> one), leaving: stats scalar + bm25
    # stage-1 token scan (persisted candidate cache) + candidate-pruned
    # ctf pass + the vocab-pruned df-per-term pass (persisted idf
    # lattice) — each eager_persist cache-build lineage counted per the
    # convention above, every pass semantically distinct.
    "q_ann_ivfpq": 3,
    "q_rerank_tfidf": 4,
    # late-r16 registrations (measured at registration, stable across
    # sf0.001/sf0.01), re-pinned 5 -> 4 by the r16 optimization: the
    # persisted corpus-stats scalar's subtree is cache-shared with the
    # scoring crossJoin (two stats passes -> one), leaving seed-term
    # selection pass + corpus stats pass + seed-vocab-pruned df-per-term
    # pass + the BM25 candidate pass (each semantically distinct; the
    # seed/stat frames are bounded broadcasts); hybrid = those 4 + the
    # dense leg's query/corpus embedding pair (7 -> 6); residual ivfpq =
    # ONE corpus scan (assignment + residual-encode + ADC in a single
    # map-side pass — the never-shuffle-the-corpus claim, pinned in
    # tests/test_r16_candidates.py).
    "q_morelikethis": 4,
    "q_hybrid_rrf": 6,
    "q_ann_ivfpq_residual": 1,
    # r16 continuation registrations (measured at registration):
    # ivfadc_r = the residual stage-1 single corpus pass + the stage-2
    # candidate-vector fetch pass + the query-vector pass (3 distinct
    # pushed-filter passes — the q_ann_ivf convention); the filtered
    # MLT keeps q_morelikethis's count (knobs filter the seed-term frame
    # in-plan, no new pass) — 4 after the r16 optimization.
    "q_ann_ivfadc_r": 3,
    "q_morelikethis_filtered": 4,
    # bm25f = the q_bm25_topk shape: one pruned token pass (posexplode
    # + per-field conditional tf aggregates) + the broadcast 1-row
    # (N, tt_title, tt_body) stats pass.
    "q_bm25f_topk": 2,
}


# Queries whose plan may broadcast a subtree that scans lineitem, the fact
# table. The reference's map-side join ships the SMALL table to every task
# (DistributedCache) and streams the big input through map(); a broadcast
# lineitem is the reverse — collected to the driver and hashed by one
# thread. It happens when a dimension join comes first: Spark sizes a join
# as the product of its children, so customer ⋈ orders looks larger than
# lineitem (q03/q05/q10 join lineitem first for this reason). Every entry
# below broadcasts something bounded by a key domain rather than by
# lineitem's row count, or cannot build on the other side.
FACT_BROADCAST_ALLOWED = {
    "q04_order_priority": "left-semi build: a left-semi hash join can only "
    "build its right side (the two-column lineitem projection); past the "
    "broadcast threshold it becomes a sort-merge semi join",
    "q11_important_stock": "build side is a lineitem aggregate: the 1-row "
    "total of the cached |parts|-row per-part sums",
    "q15_top_supplier": "build sides are lineitem aggregates: the 1-row "
    "max of the cached |suppliers|-row revenue frame, and at small scale "
    "that frame itself",
    "q17_small_quantity_revenue": "build side is a lineitem aggregate: the "
    "|parts|-row per-part average quantity",
    "q20_potential_promotion": "build sides are lineitem aggregates: the "
    "1-row threshold and the |suppliers|-row left-semi build",
}

_PLAN_NODE = re.compile(r"^(?P<indent>[\s:|+*-]*?)(?P<name>[A-Za-z].*?) \((?P<id>\d+)\)\s*$")


def _broadcasts_over(plan: str, table: str) -> bool:
    """Whether a BroadcastExchange in a formatted plan has a subtree that
    scans ``<table>.parquet``. The tree header gives nesting by the column
    where each node name starts; the details section maps scan ids to files."""
    tree, _, details = plan.partition("\n\n")
    nodes = [
        (len(m["indent"]), m["name"], m["id"])
        for m in map(_PLAN_NODE.match, tree.splitlines())
        if m
    ]
    scans = {
        nid
        for nid, path in re.findall(
            r"^\((\d+)\) Scan parquet.*\n(?:.*\n)*?Location: .*?([^/\s]+)\]$", details, re.M
        )
        if path == f"{table}.parquet"
    }
    for i, (col, name, _) in enumerate(nodes):
        if not name.startswith("BroadcastExchange"):
            continue
        for col2, name2, nid2 in nodes[i + 1:]:
            if col2 <= col:
                break
            if name2.startswith("Scan parquet") and nid2 in scans:
                return True
    return False


def _exchange_count(plan: str) -> int:
    return len(re.findall(r"^\s*\(\d+\) Exchange\b", plan, re.M))


def _scan_count(plan: str) -> int:
    return len(re.findall(r"^\s*\(\d+\) Scan parquet\b", plan, re.M))


def _audit(queries, spark, sf_dir, budgets, scan_budgets=None):
    """Run the plan audit; return the violation lists."""
    scan_budgets = scan_budgets or {}
    row_python, cartesian, over_budget, under_budget = [], [], [], []
    scan_drift, fact_broadcast = [], []
    for name, fn in queries.items():
        if name in STREAMING_SNAPSHOT:
            continue
        plan = plans.formatted_plan(fn(spark, sf_dir))
        if "BatchEvalPython" in plan:
            row_python.append(name)
        if ("CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan) and (
            name not in INTENTIONAL_NESTED_LOOP
        ):
            cartesian.append(name)
        budget = budgets.get(name)
        if budget is not None:
            got = _exchange_count(plan)
            if got > budget:
                over_budget.append((name, got, budget))
            elif got < budget:
                under_budget.append((name, got, budget))
        pinned_scans = scan_budgets.get(name)
        if pinned_scans is not None and _scan_count(plan) != pinned_scans:
            scan_drift.append((name, _scan_count(plan), pinned_scans))
        if _broadcasts_over(plan, "lineitem"):
            fact_broadcast.append(name)
    return row_python, cartesian, over_budget, under_budget, scan_drift, fact_broadcast


def test_registry_plan_invariants(spark, sf_dir):
    from bench import HEADLINE

    assert set(HEADLINE_EXCHANGE_BUDGET) == set(HEADLINE), (
        "exchange budget out of sync with bench.HEADLINE"
    )
    unknown = INTENTIONAL_NESTED_LOOP - set(QUERIES)
    assert not unknown, f"whitelist names unknown queries: {sorted(unknown)}"
    assert not (set(EXTRA_EXCHANGE_BUDGET) & set(HEADLINE_EXCHANGE_BUDGET))
    assert STREAMING_SNAPSHOT <= set(QUERIES)

    # scan budget covers the WHOLE non-streaming registry, both ways
    non_streaming = set(QUERIES) - STREAMING_SNAPSHOT
    assert set(SCAN_BUDGET) == non_streaming, (
        f"scan budget out of sync: unpinned={sorted(non_streaming - set(SCAN_BUDGET))}, "
        f"stale={sorted(set(SCAN_BUDGET) - non_streaming)}"
    )

    budgets = {**HEADLINE_EXCHANGE_BUDGET, **EXTRA_EXCHANGE_BUDGET}
    row_python, cartesian, over_budget, under_budget, scan_drift, fact_broadcast = _audit(
        QUERIES, spark, sf_dir, budgets, SCAN_BUDGET
    )

    assert not row_python, (
        f"row-at-a-time Python UDF (BatchEvalPython) in: {sorted(row_python)} — "
        "use pandas_udf / mapInPandas (Arrow-batched) instead"
    )
    assert not cartesian, (
        f"unwhitelisted cartesian/nested-loop join in: {sorted(cartesian)} — "
        "fix the join or whitelist it with a justification"
    )
    assert not over_budget, (
        f"shuffle regression (exchanges over pinned budget): {over_budget}"
    )
    assert not under_budget, (
        f"stale exchange budget (plan improved — re-pin and note the win): "
        f"{under_budget}"
    )
    assert not scan_drift, (
        f"scan-count drift (name, got, pinned): {scan_drift} — a GROWN count "
        "is the dual-branch-recompute signature: prove the new scan is a "
        "semantically distinct pass and re-pin with the justification; a "
        "shrunk count is a win — re-pin and note it"
    )
    assert set(fact_broadcast) == set(FACT_BROADCAST_ALLOWED), (
        f"lineitem broadcast: unreviewed={sorted(set(fact_broadcast) - set(FACT_BROADCAST_ALLOWED))}, "
        f"stale={sorted(set(FACT_BROADCAST_ALLOWED) - set(fact_broadcast))} — join the "
        "fact table first so dimensions are the build side, or allow it here "
        "with the reason its build side is bounded"
    )


# Every explicit F.broadcast(...) hint in the registry, by the unparsed
# source of its argument, with the justification for why its cardinality
# is BOUNDED (dimension table, scalar/stats aggregate, model frame, or
# query set). A broadcast hint on a frame whose cardinality grows with
# the corpus is the one plan choice that turns "slow at 100 TB" into
# "dead at 100 TB": Spark hard-caps a single broadcast at 8 GB, and a
# Heaps-law vocabulary / frequent-n-gram set blows through it (VERDICT
# r07 #4 — q_unigram_logprob's freq and q_boilerplate_ratio's frequent
# hints were dropped for exactly this; those joins are now AQE's runtime
# call). Growing this table is a conscious act: a new hint fails the
# audit until it is added HERE with its boundedness argument, in review.
ALLOWED_BROADCAST_HINTS = {
    # --- dimension tables (TPC-H: fixed or slowly-growing cardinality)
    "nation": "25-row dimension",
    "region": "5-row dimension",
    "n1": "nation alias",
    "n2": "nation alias",
    "ns": "nation alias (supplier side)",
    "nc": "nation alias (customer side)",
    "part": "filtered part dimension",
    "supplier": "supplier dimension",
    "bad": "supplier denylist (dimension subset)",
    # --- 1-row scalar / k-row stats aggregates
    "tot": "1-row global total (q11)",
    "mx": "1-row max (q15)",
    "thr": "1-row threshold (q20)",
    "avgbal": "1-row mean (q22)",
    "stats": "1-row corpus moments (q_embedding_outliers)",
    # --- bounded model / config frames
    "buckets": "literal histogram bucket ranges (q_range_join)",
    # r13: q_sequence_pack's explicit hint on the driver-built bases frame
    # is gone — the bases are now a distributed hierarchical prefix sum
    # with no hint (static planner broadcasts it off InMemoryRelation
    # stats while it fits; bounded shuffle join past that).
}


def test_broadcast_hints_are_bounded_cardinality():
    """No explicit broadcast hint on a corpus-cardinality frame —
    registry-wide, mechanized (the r08 hint audit)."""
    import ast
    import inspect
    import pathlib

    import hadoop_gpu_spark.queries as qmod

    src = pathlib.Path(inspect.getsourcefile(qmod)).read_text()
    found = []
    for node in ast.walk(ast.parse(src)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "broadcast"
            and node.args
        ):
            found.append(ast.unparse(node.args[0]))
    unknown = sorted(set(found) - set(ALLOWED_BROADCAST_HINTS))
    assert not unknown, (
        f"unreviewed explicit broadcast hint(s) in queries.py: {unknown} — "
        "prove the frame's cardinality is bounded (dimension/scalar/model) "
        "and add it to ALLOWED_BROADCAST_HINTS, or drop the hint and let "
        "AQE choose (corpus-cardinality frames MUST be unhinted: the 8 GB "
        "broadcast cap kills, not slows, the query at scale)"
    )


# The hint audit above covers queries.py; these are the sanctioned
# explicit-broadcast sites in the OPERATOR MODULES (same boundedness
# bar: model frame, query set, LUT, or an operator whose documented
# contract is caller-declared boundedness). Keyed by (module-relative
# path, unparsed hint argument). A new site fails until reviewed here.
ALLOWED_MODULE_BROADCAST_HINTS = {
    ("operators/joins.py", "small"):
        "broadcast_join's PURPOSE (DistributedCache parity) — the "
        "caller declares the side bounded; corpus-scale callers use "
        "the plain join + AQE",
    ("similarity/quantize.py", "lut_df"):
        "ADC lookup table: |queries| x 16 x 8 floats",
    ("similarity/quantize.py", "bdf"):
        "pq_train Lloyd codebook: 128 rows per iteration",
    ("similarity/ann.py", "q"):
        "ANN query set (brute-force baseline + LSH probe): bounded by "
        "the caller's n_queries, never corpus-sized",
    ("similarity/ann.py", "cen_arr"): "IVF centroid table: k rows",
    ("similarity/ann.py", "cen"): "IVF centroid table: k rows",
    ("similarity/ann.py", "probe_q"): "IVF probe set: n_queries rows",
    ("ml/matmul.py", "b"):
        "gram column-pairs: bounded by matrix width d, not row count",
    ("dedup/semantic.py", "cen"):
        "semantic-dedup centroid table: n_centroids rows (the IVF "
        "first-k convention), never corpus-sized",
    # r13: the 'coarse' / 'cen_cell' hints retired with the expression
    # coarse path — two-level assignment now runs as a map-only numpy
    # kernel whose centroids ride the UDF closure (model-sized collect,
    # the k-means contract), not as broadcast frames.
    ("operators/retrieval.py", "stats"):
        "bm25 corpus stats: a 1-row (n_docs, total_tokens) aggregate — "
        "the fold-in that replaced the construction-time collect (r12)",
    ("ml/nbayes.py", "class_tok"):
        "NB per-class token totals: |classes| rows — bounded by the "
        "label set, never corpus- or vocab-sized",
    ("ml/nbayes.py", "pri"):
        "NB class priors: |classes| rows (the vocab-sized grid join "
        "stays deliberately UNHINTED next to these)",
    # r15 staged gates
    ("operators/retrieval.py", "stats.select('__n')"):
        "rerank corpus doc count: projection of the persisted 1-row "
        "(__n, __tt) stats aggregate shared with bm25 stage 1 (r16: was "
        "a second standalone corpus scan) feeding the idf lattice",
    ("operators/retrieval.py", "vocab"):
        "rerank candidate vocabulary (r16 optimization: prunes the "
        "df-per-term aggregate input before the shuffle): distinct "
        "terms of the |queries| x stage1_k candidate docs plus the "
        "literal query terms — candidate-bounded, never corpus-vocab-"
        "sized",
    # r16 staged gates
    ("operators/retrieval.py", "qsel"):
        "MoreLikeThis selected seed terms: n_seeds x max_query_terms "
        "rows by construction (the term cap IS the operator's scale "
        "lever), never corpus- or vocab-sized",
    ("operators/retrieval.py", "seed_vocab"):
        "MoreLikeThis seed-document vocabulary (r16 optimization: "
        "prunes the df-per-term aggregate input before the shuffle): "
        "distinct terms of the n_seeds seed documents — bounded by "
        "n_seeds x max document length, never corpus-vocab-sized",
    ("similarity/quantize.py", "cen_b"):
        "IVF-PQ coarse centroid table: n_centroids rows (first-k "
        "convention), never corpus-sized",
    ("similarity/quantize.py", "probes.join(F.broadcast(lut_df), 'qid')"):
        "IVF-PQ probe set with per-query LUTs: n_queries x nprobe rows, "
        "each carrying an n_sub x n_cent double grid — model-sized",
    # r16 continuation registrations
    ("similarity/quantize.py", "cand"):
        "IVFADC+R stage-2 candidate list: |queries| x shortlist id "
        "pairs by construction — the re-rank fetch broadcasts IDs onto "
        "the corpus scan, never the corpus onto anything",
    ("similarity/quantize.py", "qvec"):
        "IVFADC+R query-vector frame: n_queries rows (the ANN query-set "
        "convention, ann.py 'q')",
}


def test_module_broadcast_hints_are_bounded_cardinality():
    """Package-wide extension of the queries.py hint audit: no operator
    module may broadcast-hint an unbounded-cardinality frame either —
    an 8 GB-cap death is the same death when the hint hides in a
    library function."""
    import ast
    import pathlib

    import hadoop_gpu_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    found = set()
    for py in sorted(root.rglob("*.py")):
        rel = str(py.relative_to(root))
        if rel == "queries.py":  # covered by the registry audit above
            continue
        for node in ast.walk(ast.parse(py.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id in ("F", "functions")
                and node.args
            ):
                found.add((rel, ast.unparse(node.args[0])))
    unknown = sorted(found - set(ALLOWED_MODULE_BROADCAST_HINTS))
    stale = sorted(set(ALLOWED_MODULE_BROADCAST_HINTS) - found)
    assert not unknown, (
        f"unreviewed broadcast hint(s) in operator modules: {unknown} — "
        "prove boundedness and add to ALLOWED_MODULE_BROADCAST_HINTS, or "
        "drop the hint and let AQE choose"
    )
    assert not stale, f"stale module hint allowlist entries: {stale}"


# Every GLOBAL window frame (Window.partitionBy() with no keys, or with
# only literal keys — both plan a single-task pass over the whole input
# frame) in the package, keyed by (module-relative path, enclosing
# function), with the argument for why the frame's cardinality is
# BOUNDED. This is the last member of the unbounded-cardinality family
# to get a detector (r09; VERDICT r08 what's-wrong #1): a broadcast
# hint on a corpus frame dies on the 8 GB cap, and a global window over
# a corpus-growing frame funnels it through ONE task — a straggler or
# OOM at open-vocab scale. The _unigram_nll |vocab|-row global window
# was exactly this; it is now an eager_persist + scalar re-aggregate.
# A new global-window site fails until reviewed here.
ALLOWED_GLOBAL_WINDOWS = {
    ("queries.py", "q_mixture_weights"):
        "|langs|-row mixture aggregate — bounded by the language set, "
        "not the corpus (the r06 dual-branch fix)",
    ("queries.py", "q_pretrain_pipeline"):
        "|langs|-row mixture-stats aggregate — same bound (r06 fix)",
    ("ml/nbayes.py", "nb_score"):
        "prior normalizer over the |classes|-row per-class doc-count "
        "frame — bounded by the label set (the corpus-sized analogs in "
        "this module use eager_persist + scalar re-aggregate instead)",
    # --- r13: sites surfaced by extending the detector to bare
    # Window.orderBy (global ordered window, same single-task funnel)
    ("utils.py", "hierarchical_prefix_sum"):
        "level-2 cumsum over the |buckets|/superbucket_width-row "
        "superbucket totals — two aggregation levels below the corpus "
        "(1e11 rows at 256/bucket -> ~95k rows in the one task); the "
        "shared shape q_sequence_pack and q_total_order_sort funnel "
        "their ONLY global window through",
    ("queries.py", "q_terasort"):
        "rank over gen_tera_records(_TERA_N) — bounded by the gate's "
        "literal row count, not by any input table",
    # (q_grep_ranked's vocabulary-sized rank window — the one corpus-
    # unbounded entry this allowlist ever carried — was restructured to
    # TakeOrderedAndProject + sort_array/posexplode in r14 and no longer
    # contains any Window call; entry removed per the r13 VERDICT.)
}


def _global_window_sites(src: str, rel: str) -> set[tuple[str, str]]:
    """(file, enclosing-function) for every global single-task window in
    one python source: bare ``Window.orderBy(...)`` (no partitionBy) and
    ``Window.partitionBy()`` with no (or literal-only) keys. The Window
    receiver is recognized by per-file alias resolution (r14, r13 ADVICE:
    ``from pyspark.sql.window import Window as Win`` and module-qualified
    ``window.Window.orderBy(...)`` escaped the original bare-Name check)
    plus the historical bare-name floor ("Window", "W")."""
    import ast

    tree = ast.parse(src)
    found: set[tuple[str, str]] = set()

    # every name this file binds to pyspark's Window class — direct or
    # aliased; module-qualified receivers are matched structurally below
    window_names = {"Window", "W"}
    for nd in ast.walk(tree):
        if isinstance(nd, ast.ImportFrom) and nd.module and (
            nd.module.endswith(".window") or nd.module == "pyspark.sql"
        ):
            for a in nd.names:
                if a.name == "Window":
                    window_names.add(a.asname or a.name)

    def _is_window_receiver(v):
        if isinstance(v, ast.Name):
            return v.id in window_names
        # attribute chain ending in .Window — 'window.Window',
        # 'pyspark.sql.window.Window' through any module alias
        return isinstance(v, ast.Attribute) and v.attr == "Window"

    class V(ast.NodeVisitor):
        def __init__(self):
            self.stack = []

        def visit_FunctionDef(self, n):
            self.stack.append(n.name)
            self.generic_visit(n)
            self.stack.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, n):
            f = n.func
            # r13 gap fix: Window.orderBy(...) with NO partitionBy is
            # ALSO a global single-task window (the q_sequence_pack
            # level-2 superbucket window is one) — the original
            # detector only saw explicit partitionBy() calls.
            if (
                isinstance(f, ast.Attribute)
                and f.attr == "orderBy"
                and _is_window_receiver(f.value)
            ):
                found.add((rel, self.stack[-1] if self.stack else "<module>"))
            if (
                isinstance(f, ast.Attribute)
                and f.attr == "partitionBy"
                and _is_window_receiver(f.value)
            ):
                args = n.args
                is_global = (not args and not n.keywords) or (
                    args
                    and all(
                        isinstance(a, ast.Call)
                        and isinstance(a.func, ast.Attribute)
                        and a.func.attr == "lit"
                        for a in args
                    )
                )
                if is_global:
                    found.add((rel, self.stack[-1] if self.stack else "<module>"))
            self.generic_visit(n)

    V().visit(tree)
    return found


def test_global_windows_are_bounded_cardinality():
    """No single-task global window over a corpus-cardinality frame —
    package-wide, mechanized (the r09 audit, completing the
    unbounded-cardinality detector family beside the hint audits)."""
    import pathlib

    import hadoop_gpu_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    found = set()
    for py in sorted(root.rglob("*.py")):
        rel = str(py.relative_to(root))
        found |= _global_window_sites(py.read_text(), rel)
    unknown = sorted(found - set(ALLOWED_GLOBAL_WINDOWS))
    stale = sorted(set(ALLOWED_GLOBAL_WINDOWS) - found)
    assert not unknown, (
        f"unreviewed GLOBAL window frame(s): {unknown} — a partitionBy() "
        "with no (or literal-only) keys runs the whole frame through ONE "
        "task; prove the frame is bounded (model/stats aggregate) and add "
        "it to ALLOWED_GLOBAL_WINDOWS, or restructure (eager_persist + "
        "scalar re-aggregate — the _unigram_nll r09 fix)"
    )
    assert not stale, f"stale global-window allowlist entries: {stale}"


def test_global_window_detector_sees_aliased_receivers():
    # Detector self-test (r14, r13 ADVICE): every spelling of the Window
    # class must be caught — the aliased-import and module-qualified forms
    # escaped the original bare-Name check.
    flagged = _global_window_sites(
        "from pyspark.sql.window import Window as Win\n"
        "import pyspark.sql.window as win_mod\n"
        "def a(df, F):\n"
        "    return df.withColumn('r', F.row_number().over(Win.orderBy('x')))\n"
        "def b(df, F):\n"
        "    w = win_mod.Window.orderBy('x')\n"
        "    return df.withColumn('r', F.row_number().over(w))\n"
        "def c(df, F):\n"
        "    w = win_mod.Window.partitionBy().orderBy('x')\n"
        "    return df.withColumn('r', F.row_number().over(w))\n"
        "def fine(df, F):\n"
        "    w = win_mod.Window.partitionBy('k').orderBy('x')\n"
        "    return df.withColumn('r', F.row_number().over(w))\n",
        "synthetic.py",
    )
    assert flagged == {
        ("synthetic.py", "a"),
        ("synthetic.py", "b"),
        ("synthetic.py", "c"),
    }, flagged


def test_streaming_snapshot_set_matches_streaming_callers():
    # The declared exclusion set must equal — in BOTH directions — the
    # registered queries that actually drive a Structured Streaming
    # pipeline (detected as: the query function's source imports the
    # streaming module). A streaming query missing from the set would be
    # audited on a meaningless batch snapshot plan; a batch query wrongly
    # in the set would silently skip the audit.
    import inspect

    derived = {
        n
        for n, fn in QUERIES.items()
        if "hadoop_gpu_spark.streaming" in inspect.getsource(fn)
    }
    assert derived == STREAMING_SNAPSHOT, (
        f"declared streaming set out of sync: declared-only="
        f"{sorted(STREAMING_SNAPSHOT - derived)}, "
        f"derived-only={sorted(derived - STREAMING_SNAPSHOT)}"
    )


def test_audit_flags_misnamed_stream_query(spark, sf_dir):
    # The r06 exclusion was the name prefix "q_stream" — under which a
    # future NON-streaming query that happened to carry the prefix would
    # silently skip the audit. Exclusion is now declared membership;
    # prove the audit DOES flag a q_stream-named batch query with a
    # row-at-a-time Python UDF.
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    bad_udf = F.udf(lambda x: x, LongType())

    def q_stream_fake(spark_, _sf):
        return spark_.range(10).select(bad_udf("id").alias("x"))

    assert "q_stream_fake" not in STREAMING_SNAPSHOT
    row_python, *_ = _audit(
        {"q_stream_fake": q_stream_fake}, spark, sf_dir, {}
    )
    assert row_python == ["q_stream_fake"]


def test_scan_audit_flags_a_dual_branch_recompute(spark, sf_dir):
    # Prove the detector detects: a query that joins a frame against an
    # aggregate OF ITSELF without persisting replans the shared subtree —
    # the exact q15/q_tfidf disease — and must surface as a scan count
    # above the single-pass pin.
    from pyspark.sql import functions as F

    from hadoop_gpu_spark.tables import load_table

    def q_diseased(spark_, sf):
        li = load_table(spark_, "lineitem", sf).select("l_orderkey", "l_quantity")
        mx = li.agg(F.max("l_quantity").alias("m"))
        return li.join(F.broadcast(mx)).filter(F.col("l_quantity") == F.col("m"))

    _, _, _, _, scan_drift, _ = _audit(
        {"q_diseased": q_diseased}, spark, sf_dir, {}, {"q_diseased": 1}
    )
    assert scan_drift == [("q_diseased", 2, 1)]


def test_audit_flags_a_broadcast_fact_table(spark, sf_dir):
    # Prove the detector detects: the dimension-first join order that q03
    # used to have makes the planner broadcast lineitem; the fact-first
    # order of the same joins does not.
    from hadoop_gpu_spark.tables import load_table

    def tables(spark_, sf):
        return [load_table(spark_, t, sf) for t in ("customer", "orders", "lineitem")]

    def q_dimension_first(spark_, sf):
        c, o, li = tables(spark_, sf)
        return c.join(o, c.c_custkey == o.o_custkey).join(li, li.l_orderkey == o.o_orderkey)

    def q_fact_first(spark_, sf):
        c, o, li = tables(spark_, sf)
        return li.join(o, li.l_orderkey == o.o_orderkey).join(c, c.c_custkey == o.o_custkey)

    *_, fact_broadcast = _audit(
        {"q_dimension_first": q_dimension_first, "q_fact_first": q_fact_first},
        spark, sf_dir, {},
    )
    assert fact_broadcast == ["q_dimension_first"]
