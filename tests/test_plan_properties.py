"""Structural physical-plan contracts: the scale properties VERDICT
and README claim are pinned here, so a regression (a lost broadcast, a
crept-in global sort, a scan that stopped pruning) fails pytest before
it costs anything on a cluster."""

from __future__ import annotations

import pytest

from alma_publish_to_marc_spark import tables
from tools.explain_audit import summarize

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def props(spark):
    import __spark_entry__ as e

    qs = e.queries()

    def get(name):
        # stale persists from earlier tests would swap subtrees for
        # InMemoryTableScans and make structural counts order-dependent
        spark.catalog.clearCache()
        tables.release()
        return summarize(spark, qs[name](spark, SF_SMOKE))

    return get


def test_flagship_is_broadcast_only_single_shuffle(props):
    p = props("item_info_flagship")
    assert p["shuffles"] <= 1
    assert p["sort_merge_joins"] == 0
    assert p["broadcast_joins"] >= 4
    # every scan prunes columns (no full-width reads)
    assert all(w <= 4 for w in p["scan_widths"])


def test_tfidf_never_broadcasts_the_vocabulary(props):
    # the r01 scale-killer pin: the term join must stay sort-merge
    p = props("tfidf_top_terms")
    assert p["broadcast_joins"] == 0
    assert p["sort_merge_joins"] >= 1


def test_scan_fused_queries_have_zero_shuffles(props):
    for name in ("quality_classifier_score", "bpe_encode_docs",
                 "blob_printable", "pii_redaction"):
        p = props(name)
        assert p["shuffles"] == 0, name
        assert p["range_shuffles"] == 0, name


def test_no_global_sorts_in_order_sensitive_paths(props):
    # training order and sampling must never range-partition
    for name in ("training_order_shuffle", "uniform_sample_exact",
                 "curriculum_order", "duplicate_ngram_spans",
                 "exact_dedup"):
        assert props(name)["range_shuffles"] == 0, name


def test_ann_paths_broadcast_the_small_side(props):
    # brute force: non-equi condition -> broadcast NESTED-LOOP of the
    # tiny query panel; LSH: bucket equi-join -> broadcast HASH join
    p = props("ann_cosine_topk")
    assert p["broadcast_nl_joins"] >= 1
    assert p["sort_merge_joins"] == 0
    p = props("ann_lsh_topk")
    assert p["broadcast_joins"] >= 1
    assert p["sort_merge_joins"] == 0


def test_pq_probe_is_broadcast_only(props):
    p = props("pq_adc_topk")
    assert p["broadcast_joins"] >= 4  # one per subspace lookup
    assert p["sort_merge_joins"] == 0


_TPCH_SUITE = (
    "order_priority_checking", "local_supplier_volume",
    "forecast_revenue_change", "volume_shipping", "promo_revenue_effect",
    "national_market_share", "product_type_profit", "important_part_value",
    "shipmode_priority", "customer_distribution", "min_cost_supplier",
    "top_supplier_revenue", "parts_supplier_relationship",
    "small_quantity_revenue", "large_volume_customer", "discounted_revenue",
    "potential_promotion", "waiting_orders_supplier",
    "global_sales_opportunity",
)


@pytest.mark.parametrize("name", _TPCH_SUITE)
def test_tpch_suite_has_no_range_exchange(props, name):
    # Final ORDER BYs are either TakeOrdered (top-k) or dropped — a
    # RangePartitioning exchange in any suite member is a regression.
    assert props(name)["range_shuffles"] == 0, name


def test_tpch_star_joins_broadcast_all_dims(props):
    # Q5/Q7/Q9 shapes: one keyed fact shuffle, dims broadcast, no SMJ.
    for name in ("local_supplier_volume", "volume_shipping",
                 "product_type_profit"):
        p = props(name)
        assert p["shuffles"] <= 1, name
        assert p["sort_merge_joins"] == 0, name
        assert p["broadcast_joins"] >= 3, name


def test_tpch_scan_aggregates_fuse_to_zero_shuffles(props):
    # Q6/Q14/Q19 shapes are scan→(broadcast join)→global agg: no keyed
    # shuffle at all, filters pushed to every parquet scan.
    for name in ("forecast_revenue_change", "promo_revenue_effect",
                 "discounted_revenue"):
        p = props(name)
        assert p["shuffles"] == 0, name
        assert p["pushed_filter_scans"] == p["scans"], name


def test_mmr_result_is_fully_severed(props, spark):
    # The r04 scale-killer pin: the greedy MMR loop must run driver-
    # paced against a persisted ≤MMR_POOL-row pool; the RETURNED frame
    # is a local relation — zero corpus scans, zero shuffles, zero
    # joins left in its lineage. (Before the fix: 20 embedding scans,
    # 29 broadcast-NL joins.)
    p = props("mmr_diversified_topk")
    assert p["scans"] == 0
    assert p["shuffles"] == 0
    assert p["broadcast_nl_joins"] == 0
    assert tables.release() >= 1  # the pool was tracked


def test_walk_pmi_pairs_feed_branches_from_cache(props, spark):
    # pairs feeds FOUR aggregate branches (c_ab/c_a/c_b/tot): each
    # branch must read the persisted frame, not re-execute the walk
    # join chain (CLAUDE.md multi-branch hazard, r04 weak #2).
    p = props("walk_pmi_similarity")
    assert p["in_memory_scans"] >= 4
    assert tables.release() >= 1


def test_random_walks_persist_every_round(props, spark):
    # Per-step frontier persists (the bfs_levels/kcore discipline):
    # each of the WALK_STEPS steps is referenced by the output union
    # AND the next step's join — both must hit the cache, or one
    # evaluation pays O(K^2/2) step-joins (r04 weak #3).
    from alma_publish_to_marc_spark.operators.graph_queries import WALK_STEPS
    p = props("graph_random_walks")
    assert p["in_memory_scans"] >= WALK_STEPS
    assert tables.release() >= WALK_STEPS


def test_boilerplate_removal_broadcasts_the_template_set(props, spark):
    # The df-filtered boilerplate key set is Zipf-tiny; if the anti
    # join ever degrades to sort-merge, the corpus-sized segment table
    # would shuffle twice for nothing.
    p = props("boilerplate_segment_removal")
    assert p["broadcast_joins"] >= 1
    assert p["range_shuffles"] == 0


def test_sq_topk_is_broadcast_probe_shaped(props, spark):
    # Codes scan + broadcast panel + one (qid) ranking shuffle; the
    # grid is a 1-row broadcast. No sort-merge joins anywhere.
    p = props("ann_sq_topk")
    assert p["sort_merge_joins"] == 0
    assert p["broadcast_nl_joins"] + p["broadcast_joins"] >= 1
    assert p["range_shuffles"] == 0


def test_phash_neardup_never_reshuffles_payloads(props, spark):
    # After the one window aggregation, only (id, sig) rows move: the
    # band self-join and verify must stay hash-keyed, no range
    # partitioning. The only single-partition exchange allowed is the
    # 1-row max(doc_id) offset aggregate of the augmented corpus.
    p = props("media_phash_neardup")
    assert p["range_shuffles"] == 0
    assert p["single_part"] <= 1


def test_target_encoding_broadcasts_both_aggregates(props, spark):
    # group stats and the global 1-row must both ride broadcasts; the
    # fact scan itself shuffles at most once (the group aggregation).
    p = props("target_encoding_loo")
    assert p["broadcast_joins"] + p["broadcast_nl_joins"] >= 2
    assert p["sort_merge_joins"] == 0
    assert p["range_shuffles"] == 0


def test_quantile_normalize_sorts_only_the_run_table(props, spark):
    # The whole point of the run-table trick: any range exchange /
    # single-partition window must touch only value-cardinality rows,
    # never the corpus — corpus-sized ops stay hash-partitioned. The
    # plan has exactly the one tiny sort the prefix sum needs.
    p = props("quantile_normalize_feature")
    assert p["range_shuffles"] <= 1
    # two tiny single-partition ops allowed: the run-table prefix-sum
    # window (value-cardinality rows) and the 1-row corpus count
    assert p["single_part"] <= 2


def test_maxsim_stays_sparse_and_broadcasts_the_query_bag(props, spark):
    # The dim-keyed dot product must join the corpus posting rows
    # against a BROADCAST query bag (posting-list retrieval shape);
    # no sort-merge join and no range partitioning anywhere.
    p = props("maxsim_multivector_retrieval")
    assert p["broadcast_joins"] >= 1
    assert p["sort_merge_joins"] == 0
    assert p["range_shuffles"] == 0


def test_hits_rounds_read_cached_raw_frames(props, spark):
    # Each HITS half-round persists its raw-score frame; the plan must
    # show cached reuse (InMemory scans) and parquet scans only for
    # the two base tables — if the persists are dropped the message
    # chain re-executes 2^(2·rounds) times.
    p = props("hits_hubs_authorities")
    assert p["in_memory_scans"] >= 4
    assert p["scans"] <= 2
    assert p["range_shuffles"] == 0


def test_incremental_cc_counts_reread_staged_labels(props, spark):
    # Label frames are parquet-staged by connected_components; the
    # five count branches must re-read files (scans), never re-run
    # the propagation lineage, and nothing range-partitions.
    p = props("incremental_connected_components")
    assert p["range_shuffles"] == 0
    assert p["sort_merge_joins"] == 0


def test_conformal_sorts_only_the_run_table(props, spark):
    # Same contract as quantile_normalize: the calibration quantile's
    # single-partition window touches only residual-cardinality rows.
    p = props("conformal_prediction_eval")
    assert p["range_shuffles"] <= 1
    assert p["single_part"] <= 3


def test_gini_ranking_is_single_scan(props, spark):
    # The melt rewrite's contract: ONE documents scan feeds all four
    # features (plus the tiny 1-row glob aggregate's scan).
    p = props("gini_feature_ranking")
    assert p["scans"] <= 3
    assert p["sort_merge_joins"] == 0


def test_bradley_terry_returns_local_matrix_result(props, spark):
    # The MM rounds are driver-paced over the collected win matrix
    # (the BPE sanctioned shape): the RETURNED frame is a local
    # relation — zero corpus scans/shuffles/joins in its lineage. An
    # unrolled DataFrame lineage would double per round at the
    # normalizer fan-out (2^rounds plan copies — Catalyst blow-up).
    p = props("bradley_terry_strength")
    assert p["scans"] == 0
    assert p["shuffles"] == 0
    assert p["broadcast_joins"] == 0


def test_preference_transitivity_reads_pairs_from_cache(props, spark):
    # pairs feeds four branches (edges/ties/models/triads): each must
    # read the persisted <=|models|^2 frame, not re-aggregate the
    # corpus (CLAUDE.md multi-branch hazard).
    p = props("preference_transitivity_audit")
    assert p["in_memory_scans"] >= 4
    assert p["scans"] <= 3  # docs twice (self-join) + max(doc_id)
    assert tables.release() >= 1


def test_preference_aggregates_are_single_shuffle(props, spark):
    for name in ("pairwise_winrate_wilson", "annotator_agreement_kappa",
                 "preference_length_bias", "annotator_position_bias"):
        p = props(name)
        assert p["shuffles"] <= 1, name
        assert p["range_shuffles"] == 0, name
        assert p["sort_merge_joins"] == 0, name


def test_trained_classifier_consumers_scan_corpus_once(props, spark):
    # The unrolled training rounds plus scoring/threshold branches all
    # reference the featurized frame; _trained_feats_w persists it, so
    # every consumer's plan must read parquet exactly once and serve
    # every other branch from cache (before the fix: 24 scans in the
    # fairness audit).
    for name in ("logreg_calibration_bins", "isotonic_calibration",
                 "brier_decomposition", "roc_curve_points",
                 "fairness_group_audit"):
        p = props(name)
        assert p["scans"] <= 1, name
        assert p["in_memory_scans"] >= 4, name
        assert p["sort_merge_joins"] == 0, name
    assert tables.release() >= 1


def test_round5c_aggregate_shapes(props, spark):
    # One parquet scan, no global sorts, no sort-merge joins: these
    # queries collapse the corpus in a single map-side-combinable
    # aggregate and do all remaining work on tiny derived frames.
    for name in ("wasserstein_source_shift", "map_ops_suite",
                 "forecast_backtest_mase", "negative_sampling_table"):
        p = props(name)
        assert p["scans"] <= 1, name
        assert p["range_shuffles"] == 0, name
        assert p["sort_merge_joins"] == 0, name
    tables.release()


def test_greedy_coverage_returns_local_result(props, spark):
    # Driver-paced greedy (BPE/MMR shape): the returned frame is a
    # local relation; the incidence frame it consumed was persisted.
    p = props("greedy_coverage_selection")
    assert p["scans"] == 0
    assert p["shuffles"] == 0
    assert tables.release() >= 1


def test_round5d_single_aggregate_shapes(props, spark):
    # These collapse the corpus in one or two map-side aggregates and
    # do the statistical tail on tiny frames — no global sorts, no
    # sort-merge joins, at most two parquet scans.
    from alma_publish_to_marc_spark.plans import behavior_queries  # noqa
    for name in ("cuped_variance_reduction", "median_ci_order_stats",
                 "empirical_bayes_shrinkage", "permutation_test_pvalue",
                 "stratified_att_estimate", "fdr_bh_correction",
                 "dp_sparse_vector", "shapley_channel_attribution"):
        p = props(name)
        assert p["scans"] <= 2, name
        assert p["range_shuffles"] == 0, name
        assert p["sort_merge_joins"] == 0, name


def test_round5d_iteratives_have_no_range_exchange(props, spark):
    for name in ("personalized_pagerank", "timeseries_motif_discovery",
                 "binseg_changepoint", "prf_query_expansion",
                 "kendall_tau_rankings"):
        p = props(name)
        assert p["range_shuffles"] == 0, name
    tables.release()


def test_round5b_new_queries_plan_contracts(props):
    # mann-kendall persists the daily matrix: ONE raw-stream scan
    p = props("mann_kendall_trend")
    assert p["scans"] == 1
    assert p["range_shuffles"] == 0
    # release the persisted daily frame so later tests' plan-shape
    # assertions don't see InMemoryRelation substituted (ADVICE r05)
    tables.release()
    # readability is scan-fused per-row math: zero exchanges
    p = props("readability_scores")
    assert p["shuffles"] == 0
    # RANSAC broadcasts the candidate lines, never shuffles the corpus
    # beyond the seed TakeOrdered
    p = props("ransac_line_fit")
    assert p["broadcast_joins"] + p["broadcast_nl_joins"] >= 2
    assert p["sort_merge_joins"] == 0
    assert p["range_shuffles"] == 0
    # bitmap build is one aggregate; pair algebra joins word-aligned
    p = props("bitmap_index_audit")
    assert p["range_shuffles"] == 0
    # interval-join attribution never range-partitions
    p = props("stream_interval_join")
    assert p["range_shuffles"] == 0


def test_round6_eval_queries_plan_contracts(props):
    # none of the eval family may range-partition (driver sorts rows)
    for name in ("retrieval_ranking_metrics", "rouge_overlap_eval",
                 "bleu_ngram_eval", "viterbi_state_decode",
                 "hampel_outlier_filter", "shard_diversity_index",
                 "did_estimator", "markov_next_event_eval",
                 "contrastive_pair_batches", "unigram_lm_segment",
                 "behavior_alignment_score"):
        assert props(name)["range_shuffles"] == 0, name
    # the LCS DP is scan-fused per user: one shuffle, one scan, no join
    p = props("behavior_alignment_score")
    assert p["shuffles"] <= 1 and p["sort_merge_joins"] == 0
    # trajectory search: probe broadcast, top-k TakeOrdered (no range
    # exchange asserted above), users never join each other
    p = props("trajectory_similarity_topk")
    assert p["range_shuffles"] == 0
    assert p["sort_merge_joins"] == 0
    # sentiment: lexicon folded into the scan — ZERO shuffles
    p = props("lexicon_sentiment_score")
    assert p["shuffles"] == 0
    assert p["range_shuffles"] == 0
    # cardinality eval: ONE fact-table pass (the 6-row grid persists
    # and feeds all four branches from cache)
    p = props("cardinality_estimate_eval")
    assert p["range_shuffles"] == 0
    assert p["in_memory_scans"] >= 3
    # bitext: rare-gram blocked self-join, no range exchange
    assert props("bitext_candidate_mining")["range_shuffles"] == 0
    # pipe syntax compiles to TakeOrdered, never a range exchange
    assert props("pipe_syntax_report")["range_shuffles"] == 0
    # sketch cube: the cell registers persist and feed all three
    # rollup levels from cache
    p = props("hll_cube_rollup")
    assert p["range_shuffles"] == 0
    assert p["in_memory_scans"] >= 3
    # rolling sketch: day registers persist; window merge never
    # touches raw events (exact-audit branch is the only raw re-join)
    p = props("hll_rolling_distinct")
    assert p["range_shuffles"] == 0
    assert p["in_memory_scans"] >= 2
    tables.release()
    # constellation match: snippet fingerprints broadcast into the
    # corpus hash join; no range exchange, no sort-merge join
    p = props("audio_constellation_match")
    assert p["range_shuffles"] == 0
    assert p["broadcast_joins"] >= 1
    # span corruption: doc-keyed windows + reassembly, no range
    # exchange, nothing crosses documents
    assert props("t5_span_corruption")["range_shuffles"] == 0
    for name in ("mlm_masking_plan", "fim_transform",
                 "ann_graph_label_vote"):
        assert props(name)["range_shuffles"] == 0, name
    # FIM is pure per-row array surgery — zero shuffles
    assert props("fim_transform")["shuffles"] == 0
    tables.release()
    # ranking: query panel rides broadcast joins; the token postings
    # are persisted and reused (in-memory scans, not re-explodes)
    p = props("retrieval_ranking_metrics")
    assert p["broadcast_joins"] >= 3
    assert p["in_memory_scans"] >= 2
    # viterbi: ONE shuffle (group by user), fold is scan-fused
    p = props("viterbi_state_decode")
    assert p["shuffles"] == 1
    assert p["scans"] == 1
    # gram-overlap pair joins stay sort-merge (both sides corpus-scale)
    p = props("rouge_overlap_eval")
    assert p["sort_merge_joins"] >= 1
    # hampel/diversity/contrastive: tiny tails, <= 2 shuffles, 1 scan
    for name in ("hampel_outlier_filter", "shard_diversity_index",
                 "contrastive_pair_batches"):
        p = props(name)
        assert p["shuffles"] <= 2, name
        assert p["scans"] == 1, name
    # contrastive builds batches with window leads — NO self-joins
    assert props("contrastive_pair_batches")["sort_merge_joins"] == 0
    tables.release()


# ---------------------------------------------------------------------------
# Round 7: fused span family + partitioned sorted-neighborhood sweeps
# (VERDICT r06 items 1-2)
# ---------------------------------------------------------------------------

def test_span_family_one_scan_one_gram_shuffle(props):
    # duplicate_ngram_spans: ONE documents scan (posexplode_outer keeps
    # short docs in-flow, no doc_id re-scan), dup counts via
    # count-over-Window.partitionBy(gram_key) — never the old
    # aggregate-then-join that exploded the corpus twice.
    p = props("duplicate_ngram_spans")
    assert p["scans"] == 1
    assert p["shuffles"] <= 2          # gram-key window + doc_id agg
    assert p["range_shuffles"] == 0
    assert p["single_part"] == 0
    assert p["unpartitioned_windows"] == 0
    # duplicate_span_removal: same fused shuffle profile; the split
    # docs frame is persisted so the rewrite branch reads cache.
    p = props("duplicate_span_removal")
    assert p["scans"] == 1
    assert p["in_memory_scans"] >= 1
    assert p["unpartitioned_windows"] == 0
    assert p["range_shuffles"] == 0
    assert tables.release() >= 1


def test_sorted_neighborhood_sweep_is_partitioned(props):
    # The sweep windows must all carry PARTITION BY bkt — zero
    # unpartitioned windows (the r06 `WindowExec: No Partition
    # Defined` scale-killer), zero range exchanges; the only
    # single-partition exchange allowed is the 1-row max(doc_id)
    # offset aggregate of the augmented corpus.
    # release frames a prior test (oracle parity) left persisted: a
    # cached subtree substituted into this plan adds a SinglePartition
    # exchange for the 1-row offset aggregate and breaks the contract
    tables.release()
    p = props("sorted_neighborhood_pairs")
    assert p["unpartitioned_windows"] == 0
    assert p["range_shuffles"] == 0
    assert p["single_part"] <= 1
    assert p["in_memory_scans"] >= 1   # led persisted across 3 branches
    assert tables.release() >= 1
    p = props("fellegi_sunter_scoring")
    assert p["unpartitioned_windows"] == 0
    assert p["range_shuffles"] == 0
    assert p["single_part"] == 0


def test_sprt_walk_is_horizon_bounded(props):
    # VERDICT r06 item 3: the ordered cumsum's unpartitioned windows
    # may only see the TakeOrdered-limited decision prefix (<= 2048
    # rows), never the full stream — the plan must take the horizon
    # via TakeOrderedAndProject (distributed top-N, zero shuffles).
    p = props("sprt_sequential_test")
    assert "TakeOrderedAndProject" in p["_plan"]
    assert p["shuffles"] == 0
    assert p["range_shuffles"] == 0


def test_round7_ir_queries_plan_shapes(props):
    # scan-fused single-aggregation audits: one pruned scan, one shuffle
    for name in ("tokenizer_fertility_by_lang", "byte_fallback_rate"):
        p = props(name)
        assert p["shuffles"] == 1, name
        assert p["scans"] == 1, name
        assert p["range_shuffles"] == 0, name
        assert p["unpartitioned_windows"] == 0, name
    # retrieval: term stats ride broadcasts, top-k never globally sorts
    for name in ("ql_dirichlet_retrieval", "impact_sparse_retrieval"):
        p = props(name)
        assert p["range_shuffles"] == 0, name
        assert p["broadcast_joins"] + p["broadcast_nl_joins"] >= 2, name
        assert "TakeOrderedAndProject" in p["_plan"], name
    # char coverage: the cumulative window runs on the alphabet run
    # table (bounded); the corpus side contributes exactly one scan
    p = props("char_coverage_audit")
    assert p["scans"] == 1
    assert p["shuffles"] == 1
    # speculative acceptance: no corpus self-join — pairs come from a
    # window lead; the bigram model joins hash-keyed
    p = props("speculative_accept_rate")
    assert p["scans"] == 1
    assert p["range_shuffles"] == 0
    assert p["unpartitioned_windows"] == 0


def test_round7_inference_queries_plan_shapes(props):
    # run-table statistics: the single corpus-scale shuffle is the
    # distinct-value/day/bin aggregation; every window after runs on
    # that bounded frame
    for name in ("cvm_two_sample_test", "dp_quantile_histogram",
                 "ljung_box_autocorr_test"):
        p = props(name)
        assert p["shuffles"] <= 1, name
        assert p["range_shuffles"] == 0, name
    # per-type partitioned walks — never a corpus-wide global window
    p = props("page_hinkley_drift")
    assert p["unpartitioned_windows"] == 0
    assert p["scans"] == 1
    # Huber fixed-point: every round reads the persisted cents frame
    # (kmeans convention), mu rides broadcasts
    p = props("huber_location_fixed_point")
    assert p["in_memory_scans"] >= 7
    assert p["scans"] <= 1
    assert p["broadcast_joins"] >= 6
    assert tables.release() >= 1
    # QTE: both arms reduce to run tables; probes ride broadcasts
    p = props("quantile_treatment_effect")
    assert p["unpartitioned_windows"] == 0
    assert p["range_shuffles"] == 0


def test_round7_embedding_queries_plan_shapes(props):
    # BQ retrieval: panel rides a broadcast, rank is per-qid (never a
    # global sort), popcount arithmetic is pure column expressions
    p = props("binary_quantization_topk")
    assert p["broadcast_joins"] + p["broadcast_nl_joins"] >= 1
    assert p["range_shuffles"] == 0
    assert p["unpartitioned_windows"] == 0
    # recall gates and the Matryoshka curve: panel-bounded probes only
    for name in ("bq_recall_eval", "matryoshka_recall_curve"):
        p = props(name)
        assert p["range_shuffles"] == 0, name
        assert p["unpartitioned_windows"] == 0, name
        assert p["sort_merge_joins"] == 0, name
    # hubness: banded-LSH knn graph + two hash aggs — no all-pairs
    p = props("hubness_koccurrence")
    assert p["range_shuffles"] == 0
    assert p["unpartitioned_windows"] == 0
    # anisotropy: ONE corpus scan, 64-row aggregation, single-row out
    p = props("embedding_anisotropy_audit")
    assert p["scans"] == 1
    assert p["range_shuffles"] == 0
    assert p["unpartitioned_windows"] == 0


def test_round7_storage_queries_plan_shapes(props):
    # FFD packing: one shuffle groups docs by source; the fold is a
    # column expression (no UDF), never a global sort
    p = props("compaction_bin_packing")
    assert p["shuffles"] == 1
    assert p["scans"] == 1
    assert p["range_shuffles"] == 0
    # zone-map audit: zones aggregate per layout (2 scans of the
    # pruned 2-column projection), predicate panel rides an explode —
    # no row-level join, no global sort
    p = props("zonemap_skip_audit")
    assert p["range_shuffles"] == 0
    assert p["unpartitioned_windows"] == 0
    assert max(p["scan_widths"]) <= 2
    # delta/RLE audits: block-partitioned windows only, one scan
    for name in ("delta_bitwidth_audit", "rle_run_audit"):
        p = props(name)
        assert p["scans"] == 1, name
        assert p["unpartitioned_windows"] == 0, name
        assert p["range_shuffles"] == 0, name
    # planner: the persisted per-key stats feed both branches — the
    # events scan runs once, the mean rides a broadcast
    p = props("partition_size_planner")
    assert p["scans"] + p["in_memory_scans"] >= 2
    assert p["scans"] <= 1
    assert p["broadcast_joins"] + p["broadcast_nl_joins"] >= 1
    assert p["range_shuffles"] == 0
    assert tables.release() >= 1


def test_round7_embedding_ood_plan_shapes(props):
    # gram: one scan, explode partial-aggregates into ONE cell shuffle
    # (+ the deliberate fan_out repartition of the single-row-group
    # input — r11, commit a8d32a7)
    p = props("gram_matrix_blocked")
    assert p["scans"] == 1
    assert p["shuffles"] == 2
    assert p["range_shuffles"] == 0
    # mahalanobis: stats ride broadcasts, top-N is TakeOrdered (no
    # global sort exchange)
    p = props("mahalanobis_ood_topn")
    assert "TakeOrderedAndProject" in p["_plan"]
    assert p["broadcast_joins"] + p["broadcast_nl_joins"] >= 2
    assert p["range_shuffles"] == 0
    # knn-distance OOD: banded graph reuse, partitioned windows only
    p = props("knn_distance_ood")
    assert p["range_shuffles"] == 0
    assert p["unpartitioned_windows"] == 0


def test_round7_optimizer_queries_plan_shapes(props):
    # equi-depth: the unpartitioned cumsum window runs on the DISTINCT
    # VALUE frame (bounded alphabet), after the one corpus shuffle —
    # and the scan projects only the histogram column
    p = props("equi_depth_histogram")
    assert p["shuffles"] == 1
    assert p["scans"] == 1
    assert p["scan_widths"] == [1]
    assert p["range_shuffles"] == 0
    # independence audit: one scan, one single-row aggregation
    p = props("selectivity_independence_audit")
    assert p["scans"] == 1
    assert p["shuffles"] == 0
    assert p["unpartitioned_windows"] == 0
    # join-order ranking: stats/actual branches all reduce to 1-row
    # broadcasts over pruned key scans; never a sort-merge join
    p = props("join_order_cost_rank")
    assert p["sort_merge_joins"] == 0
    assert p["range_shuffles"] == 0
    assert max(p["scan_widths"]) <= 2
    # AQP audit: sample is a conditional sum inside ONE scan
    p = props("sample_extrapolate_error")
    assert p["scans"] == 1
    assert p["shuffles"] == 1
    assert p["range_shuffles"] == 0


def test_round7_governance_queries_plan_shapes(props):
    from alma_publish_to_marc_spark.plans import governance_queries  # noqa
    # generalization ladder: ONE grouping-sets aggregation over the
    # broadcast-joined QI frame — never one shuffle per rung
    p = props("generalization_ladder_audit")
    assert p["broadcast_joins"] >= 1
    assert p["sort_merge_joins"] == 0
    assert p["range_shuffles"] == 0
    assert "Expand" in p["_plan"]
    # dominance: keyed joins + bounded-alphabet aggregations
    p = props("sensitive_dominance_audit")
    assert p["range_shuffles"] == 0
    assert p["unpartitioned_windows"] == 0
    # retention sweep: the horizon branch is a SEPARATE pruned 1-column
    # scan (cheaper than persisting a corpus-sized frame), broadcast
    # back; the audit branch scans once more
    p = props("data_retention_sweep")
    assert p["scans"] == 2
    assert min(p["scan_widths"]) == 1
    assert p["broadcast_joins"] + p["broadcast_nl_joins"] >= 1
    assert p["range_shuffles"] == 0
    # token bucket: one user shuffle, fold is a column expression
    p = props("token_bucket_rate_limit")
    assert p["scans"] == 1
    assert p["range_shuffles"] == 0
    assert p["unpartitioned_windows"] == 0


def test_round7_decision_queries_plan_shapes(props):
    # VaR/CVaR: windows partition by segment — never a global sort
    p = props("var_cvar_risk")
    assert p["unpartitioned_windows"] == 0
    assert p["range_shuffles"] == 0
    # newsvendor: the only unpartitioned windows run on the DAY run
    # table (bounded by calendar span), after the corpus aggregates
    p = props("newsvendor_stock_level")
    assert p["range_shuffles"] == 0
    assert max(p["scan_widths"]) <= 2
    # ABC Pareto: the global cumsum is two-level — per-bucket
    # partitioned windows plus the <=64-row bucket walk; the persisted
    # parts frame feeds all branches off ONE lineitem scan
    p = props("abc_pareto_classes")
    assert p["scans"] <= 1
    assert p["in_memory_scans"] >= 3
    assert p["range_shuffles"] == 0
    assert tables.release() >= 1


def test_round7_python_surface_plan_shapes(props):
    # cogroup: ONE co-partitioned shuffle pair feeding the Python
    # worker — the same hash partitioning a join would use
    p = props("cogroup_reconcile_pandas")
    assert "FlatMapCoGroupsInPandas" in p["_plan"]
    assert p["range_shuffles"] == 0
    # mapInArrow: narrow stage, zero shuffles, one pruned scan
    p = props("arrow_batch_features")
    assert "ArrowEvalPython" in p["_plan"] or "MapInArrow" in p["_plan"]
    assert p["shuffles"] == 0
    assert p["scans"] == 1


def test_round7_process_queries_plan_shapes(props):
    # conformance: one user-keyed window shuffle, literal model rides
    # inline — no join against a model table
    p = props("conformance_fitness")
    assert p["scans"] == 1
    assert p["unpartitioned_windows"] == 0
    assert p["range_shuffles"] == 0
    # variants: md5 fixed-width shuffle key, top-k is TakeOrdered
    p = props("process_variant_topk")
    assert "TakeOrderedAndProject" in p["_plan"]
    assert p["range_shuffles"] == 0
    # bottlenecks: edge-partitioned rank windows, median broadcast back
    p = props("bottleneck_transition_latency")
    assert p["unpartitioned_windows"] == 0
    assert p["range_shuffles"] == 0
    assert p["broadcast_joins"] >= 1


def test_round7_bi_queries_plan_shapes(props):
    # encoding: one scan, zero UDFs, alphabet-bounded agg
    p = props("encoding_quality_audit")
    assert p["scans"] == 1
    assert p["shuffles"] == 1
    assert p["range_shuffles"] == 0
    # hierarchy: dims broadcast; share windows on the 25-row frame
    p = props("hierarchy_share_report")
    assert p["broadcast_joins"] >= 2
    assert p["sort_merge_joins"] == 0
    assert p["range_shuffles"] == 0
    # cumulative users: cumsum confined to the day run table
    p = props("cumulative_new_users")
    assert p["scans"] == 1
    assert p["range_shuffles"] == 0


def test_round7_stockout_plan_shape(props):
    # running balance partitions PER PART; part attrs broadcast
    p = props("stockout_detection")
    assert p["unpartitioned_windows"] == 0
    assert p["range_shuffles"] == 0
    assert p["broadcast_joins"] >= 1


def test_round7_heavy_hitter_drift_plan_shape(props):
    # persisted per-user counts feed both half-tops off ONE events
    # scan; tops are TakeOrdered; the only windows/joins after run on
    # K-row frames (bounded by construction)
    p = props("heavy_hitter_drift")
    assert "TakeOrderedAndProject" in p["_plan"]
    assert p["scans"] <= 2
    assert p["in_memory_scans"] >= 2
    assert p["range_shuffles"] == 0
    assert tables.release() >= 1


def test_round7_exact_percentile_plan_shape(props):
    # two-level order statistic: the cumulative walk runs on the
    # bounded bucket table (the 2 unpartitioned windows); the corpus
    # contributes two scans (bucket counts + the targeted-bucket
    # slice); the chosen buckets ride a broadcast; never a global sort
    p = props("exact_global_percentile")
    assert p["scans"] == 2
    assert p["range_shuffles"] == 0
    assert p["broadcast_joins"] + p["broadcast_nl_joins"] >= 1
    assert p["sort_merge_joins"] == 0


def test_round8_two_level_rank_conversions(props):
    # VERDICT r7 #1: the last two single-partition dim-scale global
    # ranks converted to the in-house two-level bucket walk. Contract:
    # zero unpartitioned windows (the local rank partitions by value
    # bucket), no range exchange (never a global sort), and the only
    # single-partition stages are 1-row reduces (corpus max-day /
    # total-count aggregates), never a dim-scale sort.
    p = props("gini_spend_concentration")
    assert p["unpartitioned_windows"] == 0
    assert p["range_shuffles"] == 0
    assert p["single_part"] <= 2
    assert p["broadcast_joins"] + p["broadcast_nl_joins"] >= 2

    p = props("rfm_segmentation")
    assert p["unpartitioned_windows"] == 0
    assert p["range_shuffles"] == 0
    assert p["single_part"] <= 2
    assert p["broadcast_joins"] + p["broadcast_nl_joins"] >= 6


def test_round8_new_query_plan_shapes(props):
    # spatial family (r9 density-adaptive grid): the DISTANCE join must
    # be an equi join on cell ids (SMJ/shuffled at fact scale, AQE may
    # broadcast at small SF) and never range-partition. BroadcastNested-
    # LoopJoins are ONLY the 1-row side/count derivation crossJoins
    # (2 per _points instantiation) — bounded regardless of corpus size.
    p = props("grid_neighbor_join")
    assert p["range_shuffles"] == 0
    assert p["sort_merge_joins"] + p["broadcast_joins"] >= 1  # equi cell join
    assert p["broadcast_nl_joins"] <= 6  # 3 _points x 2 one-row derivations
    p = props("boruvka_lightest_edges")
    assert p["range_shuffles"] == 0
    assert p["single_part"] <= 2  # the 1-row side-derivation reduces only
    assert p["broadcast_nl_joins"] <= 4
    # tile pyramid: one corpus scan + the 1-row side-count scan;
    # coarser levels reuse cell tables
    p = props("quadtree_tile_rollup")
    assert p["scans"] == 2
    assert p["unpartitioned_windows"] == 0
    # hotspot: everything after the first aggregate is lattice-sized
    p = props("spatial_hotspot_cells")
    assert p["scans"] == 2
    assert p["range_shuffles"] == 0
    # bloom skip: panel joins ride broadcasts; probe never hits lineitem
    p = props("file_bloom_skip_audit")
    assert p["broadcast_joins"] + p["broadcast_nl_joins"] >= 2
    assert p["range_shuffles"] == 0
    # curation filters: scan-fused single aggregates
    for name in ("gopher_rules_audit", "repetition_filter_audit"):
        p = props(name)
        assert p["scans"] <= 2, name
        assert p["range_shuffles"] == 0, name
    # packing: one scan, shard-partitioned window only
    p = props("token_stream_packing")
    assert p["scans"] == 1
    assert p["unpartitioned_windows"] == 0
    # hill: TakeOrdered only — zero shuffles
    p = props("hill_tail_index")
    assert p["shuffles"] == 0
    assert p["range_shuffles"] == 0
