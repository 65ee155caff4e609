"""Mirror of the driver's correctness gate: run every queries() entry
and compare against its DuckDB oracle on the same parquet tables
(row count, column names, order-insensitive values)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _normalize(rows, cols):
    import decimal

    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            # canonicalize numeric REPRESENTATIONS before the repr
            # compare: Spark DECIMAL(38,0) fetches as Decimal while
            # DuckDB HUGEINT fetches as float64 — equal values must
            # not fail on type (check_oracles compares with
            # check_dtype=False for the same reason)
            if isinstance(v, decimal.Decimal):
                v = int(v) if v == v.to_integral_value() else float(v)
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
                if v.is_integer():
                    v = int(v)
            vals.append((c, v))
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


# The round driver records correctness rows for the FIRST 50 registry
# entries only. Pin the window allocation: every distinct operator
# family must hold a slot inside the first 50; only near-redundant
# variants of already-represented families may sit past it. Adding a
# 59th query without demoting a variant breaks this on purpose.
_VARIANT_TAIL = {
    "shingle_fingerprint",
    "lsh_ann_topk",
    "events_sessionize",
    "events_pivot",
    "source_top_docs",
    "token_concentration",
    "semantic_dedup",
    "domain_reputation_filter",
    "documents_stratified_sample",
    "fuzzy_decontaminate",
    "tpch_q5_region_revenue",
    "revenue_by_nation",
    "simhash_sketch",
    "boiler_strip_rate",
    "embedding_clusters",
    "purchases_in_session",
    "dedup_best_quality",
    "ngram_jaccard_pairs",
    "events_percentiles_sampled",
    "embedding_neardup",
    "events_hourly_users",
    "orders_priority_rollup",
    "clickers_without_purchase",
    "tpch_q7_volume_shipping",
    "content_hash",
    "events_top_users",
    "big_spender_customers",
    "tpch_q10_returned_items",
    "top_trigrams",
    "customers_no_recent_order",
    "fingerprint_sha",
    "inverted_index",
    "url_canonicalize",
    "extract_kind_stats",
    "events_hourly_gapfill",
    "ngram_decontaminate",
    "document_chunks",
    "events_moving_avg",
    "customers_above_nation_avg",
    "token_count",
    "events_percentiles",
    "bigram_lm_score",
    "winnowing_fingerprint",
    "events_json_props",
    "quality_scores",
    "bpe_pair_counts",
    "ann_cosine_topk",
    "anchor_text_agg",
    "taxonomy_tag",
    "bpe_encode",
    "skew_report",
    "frontier_schedule",
    "snm_candidate_pairs",
    "zorder_key",
    "assoc_rules",
    "trend_slope",
    "constraint_audit",
    "budget_apportion",
    "cms_counts",
    "golden_record",
    "extraction_span_f1",
    "scd2_history",
    "markov_transitions",
    "k_anonymity_audit",
    "chi2_feature_scores",
    "bfs_distances",
    "mad_outlier_days",
    "hits_scores",
    "session_paths",
    "rrf_fusion",
    "label_propagation",
    "batching_waste",
    "personalized_pagerank",
    "group_kmv_distinct",
    "exact_group_quantiles",
    "skyline_orders",
    "kmv_set_overlap",
    "phash_near_dup",
    "mutual_nn_align",
    "weighted_quantiles",
    "grouped_topk_pushdown",
    "merkle_replica_diff",
    "corpus_drift_terms",
    "winsorized_stats",
    "cumulative_new_users",
    "cusum_changepoint",
    "mrr_eval",
    "bot_regularity_scores",
    "rank_normalize",
    "containment_join",
    "item_cooccurrence_sim",
    "triangle_counts",
    "multi_touch_attribution",
    "kcore_decomposition",
    "interval_coalesce",
    "weighted_priority_sample",
    "seasonality_index",
    "time_to_convert",
    "contrastive_triplets",
    "events_cube",
    "burst_windows",
    "tpch_q8_market_share",
    "link_prediction_ra",
    "ngram_decontaminate",
    "dsir_select",
    "mmr_diverse_topk",
    "textrank_keywords",
    "t5_span_corruption",
    "fd_violations",
    "greedy_matching",
    "deepwalk_walks",
    "pq_ann_topk",
    "nsp_pairs",
    "caption_pairs",
    "roc_auc_eval",
    "survival_hazard",
    "kcenter_coreset",
    "weak_label_report",
    "rendezvous_shards",
    "calibration_bins",
    "ipw_stratified_effect",
    "sssp_weighted",
    "modularity_score",
    "cc_incremental",
    "kendall_tau_eval",
    "audio_segments",
    "seq_patterns",
    "skipgram_negsamp",
    "harmonic_centrality",
    "trending_users",
    "readability_scores",
    "corr_features",
    "cohens_kappa",
    "substring_dup_spans",
    "video_frames",
    "msf_summary",
    "grid_dbscan",
    "events_interp_hourly",
    "events_value_drift",
    "single_linkage_clusters",
    "benford_orders",
    "events_ewma_daily",
    "alert_throttle",
    "dag_layers",
    "spearman_activity",
    "robots_filter",
    "cuped_effect",
    "coec_position_bias",
    "conformal_thresholds",
    "ktruss_edges",
    "training_shuffle_order",
    "rolling_active_users",
    "srm_check",
    "stratified_kfold",
    "greedy_set_cover",
    "graph_feature_agg",
    "loo_target_encoding",
    "proximity_topk",
    "adjusted_rand_index",
    "join_view_incremental",
    "texttiling_boundaries",
    "shapley_attribution",
    "pit_feature_join",
}


def test_driver_window_covers_every_operator_family():
    order = list(QUERIES)
    windowed, tail = set(order[:50]), set(order[50:])
    assert tail <= _VARIANT_TAIL, (
        f"non-variant queries fell out of the driver's 50-entry "
        f"window: {sorted(tail - _VARIANT_TAIL)}"
    )
    # each demoted variant's family keeps a representative in-window
    family_rep = {
        "shingle_fingerprint": "canonical_fingerprint",
        "lsh_ann_topk": "ivf_ann_topk",
        "events_sessionize": "events_funnel",
        # remapped after events_cube itself was demoted for
        # ab_experiment_report: both reshapings roll up the same
        # grouped event counts as events_hourly
        "events_pivot": "events_hourly",
        # demoted for ab_experiment_report, a NEW online-controlled-
        # experiment family
        "events_cube": "events_hourly",
        # born-demoted: daily-volume monitoring family (MAD flags
        # days, CUSUM locates shifts, this segments regimes)
        "burst_windows": "events_hourly",
        # born-demoted: multi-join + conditional-share aggregate
        "tpch_q8_market_share": "tpch_q3_shipping",
        "source_top_docs": "curation_e2e",
        "token_concentration": "vocab_oov_rate",
        "semantic_dedup": "dedup_clusters",
        "domain_reputation_filter": "curation_e2e",
        "documents_stratified_sample": "mixture_resample",
        "fuzzy_decontaminate": "edit_distance_pairs",
        "tpch_q5_region_revenue": "tpch_q3_shipping",
        "revenue_by_nation": "tpch_q3_shipping",
        "simhash_sketch": "simhash_near_dup",
        "boiler_strip_rate": "extract_synthetic_e2e",
        "embedding_clusters": "dedup_clusters",
        "purchases_in_session": "purchase_attribution_asof",
        "dedup_best_quality": "exact_dedup",
        "ngram_jaccard_pairs": "setsim_join_exact",
        # quantile family rep after events_percentiles itself was
        # demoted for ann_recall_eval
        "events_percentiles_sampled": "quality_decile_stats",
        "embedding_neardup": "embedding_neardup_lsh",
        "events_hourly_users": "events_hourly",
        "orders_priority_rollup": "tpch_pricing_summary",
        "clickers_without_purchase": "bloom_prefilter_decontaminate",
        "tpch_q7_volume_shipping": "tpch_q3_shipping",
        "content_hash": "canonical_fingerprint",
        "events_top_users": "curation_e2e",
        # both are threshold-vs-group-statistic filters; their family
        # rep in-window is quality_decile_stats
        "big_spender_customers": "quality_decile_stats",
        "tpch_q10_returned_items": "tpch_q3_shipping",
        "top_trigrams": "heavy_hitters",
        "customers_no_recent_order": "bloom_prefilter_decontaminate",
        "fingerprint_sha": "canonical_fingerprint",
        "inverted_index": "tfidf_top_terms",
        "url_canonicalize": "canonical_fingerprint",
        "extract_kind_stats": "extract_flagship",
        "events_hourly_gapfill": "events_hourly",
        "ngram_decontaminate": "bloom_prefilter_decontaminate",
        "document_chunks": "document_packing",
        "events_moving_avg": "purchase_attribution_asof",
        "customers_above_nation_avg": "quality_decile_stats",
        "token_count": "gopher_quality_rules",
        "events_percentiles": "quality_decile_stats",
        "bigram_lm_score": "hashed_classifier_score",
        # subsumed: gopher_quality_rules scores the same length /
        # stopword signal family plus the published composite rules
        "quality_scores": "gopher_quality_rules",
        # subsumed: bpe_train_merges runs this counting step per round
        "bpe_pair_counts": "bpe_train_merges",
        # the exact-ANN baseline lives on as ann_recall_eval's
        # ground-truth leg (ivf_ann_topk is the bucketed scale path)
        "ann_cosine_topk": "ann_recall_eval",
        # born-demoted: same derived link graph as pagerank_centrality,
        # inverted_index's bounded-collect discipline
        "anchor_text_agg": "pagerank_centrality",
        # born-demoted: small-lexicon special case of the model-based
        # filter family
        "taxonomy_tag": "hashed_classifier_score",
        # born-demoted: the apply side of the in-window trainer
        "bpe_encode": "bpe_train_merges",
        # born-demoted: top-k frequency report; the frequency sketch
        # family rep is heavy_hitters
        "skew_report": "heavy_hitters",
        # born-demoted: partitioned-rank scheduling window; shape rep
        # remapped to the packing layout after training_shuffle_order
        # (the previous rep) was itself demoted for layout_reading_order
        "frontier_schedule": "document_packing",
        # subsumed: record_linkage_fs runs the same SNM blocking every
        # call and adds the Fellegi-Sunter classification on top
        "snm_candidate_pairs": "record_linkage_fs",
        # born-demoted: multi-dim clustered-layout key; the layout
        # family rep in-window is snapshot_diff (bucketed layout)
        "zorder_key": "snapshot_diff",
        # born-demoted: basket co-presence rule mining; family rep
        # in-window is word_cooccurrence (same capped co-presence
        # pair-counting discipline, after item_cooccurrence_sim was
        # itself demoted for ip_lpm_enrich)
        "assoc_rules": "word_cooccurrence",
        # born-demoted: two-stage time rollup, closed-form exact
        # arithmetic; time-series agg family rep is events_hourly
        "trend_slope": "events_hourly",
        # born-demoted: single-scan audit + anti-join check; audit
        # family rep is table_profile
        "constraint_audit": "table_profile",
        # born-demoted: corpus agg + O(groups) rank; allocation
        # family rep is mixture_resample
        "budget_apportion": "mixture_resample",
        # born-demoted: verifiable-sketch family; reps heavy_hitters
        # (undercount dual) + kmv_distinct (sha-hash verifiability)
        "cms_counts": "heavy_hitters",
        # born-demoted: FS matches -> CC -> survivorship; reps
        # record_linkage_fs (matcher) + dedup_clusters (CC family)
        "golden_record": "record_linkage_fs",
        # born-demoted: evaluation-join family; reps ann_recall_eval
        # + extract_synthetic_e2e (the measured semantics)
        "extraction_span_f1": "ann_recall_eval",
        "winnowing_fingerprint": "canonical_fingerprint",
        # semi-structured projection over the events table; events
        # family reps in-window are events_hourly + events_cube
        # (remapped after item_cooccurrence_sim's demotion)
        "events_json_props": "events_hourly",
        # born-demoted: versioned-dimension fold; CDC/history family
        # rep is snapshot_diff (its output feeds this operator)
        "scd2_history": "snapshot_diff",
        # born-demoted: sequence-transition counting over the same
        # user-ordered windows as events_funnel
        "markov_transitions": "events_funnel",
        # born-demoted: privacy release gate; privacy family rep is
        # pii_scrub, group-audit shape rep table_profile
        "k_anonymity_audit": "pii_scrub",
        # born-demoted: feature/label association ranking; audit rep
        # table_profile, model-based-filter rep hashed_classifier_score
        "chi2_feature_scores": "table_profile",
        # born-demoted: frontier BFS over pagerank_centrality's link
        # graph; iterative-loop discipline rep dedup_clusters
        "bfs_distances": "pagerank_centrality",
        # born-demoted: robust anomaly flags over the daily rollup
        # family of events_hourly; rank-selection shape rep
        # quality_decile_stats
        "mad_outlier_days": "events_hourly",
        # born-demoted: second link-ranking recurrence over
        # pagerank_centrality's graph
        "hits_scores": "pagerank_centrality",
        # born-demoted: journey discovery; prescribed-journey rep
        # events_funnel
        "session_paths": "events_funnel",
        # born-demoted: rank fusion of two in-window rankers
        "rrf_fusion": "bm25_topk",
        # born-demoted: fourth iterative-graph discipline over
        # pagerank_centrality's graph
        "label_propagation": "pagerank_centrality",
        # born-demoted: serving-side dual of document_packing
        "batching_waste": "document_packing",
        # born-demoted: seed-restarted variant of the in-window
        # pagerank_centrality recurrence
        "personalized_pagerank": "pagerank_centrality",
        # born-demoted: per-group form of the kmv_distinct estimator
        "group_kmv_distinct": "kmv_distinct",
        # born-demoted: exact-selection dual of the demoted
        # events_percentiles pair; rank-statistics rep in-window
        "exact_group_quantiles": "quality_decile_stats",
        # born-demoted: multi-criteria shortlist; rank/shortlist reps
        # in-window are quality_decile_stats + bm25_topk
        "skyline_orders": "bm25_topk",
        # born-demoted: set-operation extension of kmv_distinct
        "kmv_set_overlap": "kmv_distinct",
        # born-demoted: perceptual-media member of the banded-sketch
        # near-dup family
        "phash_near_dup": "simhash_near_dup",
        # born-demoted: mutual-NN composition over the ANN family
        "mutual_nn_align": "ann_recall_eval",
        # born-demoted: weighted variant of exact_group_quantiles
        "weighted_quantiles": "quality_decile_stats",
        # born-demoted: bounded-shuffle dual of the window top-k
        "grouped_topk_pushdown": "curation_e2e",
        # born-demoted: bucket-pruned scale path of snapshot_diff
        "merkle_replica_diff": "snapshot_diff",
        # born-demoted: corpus-statistics family
        "corpus_drift_terms": "pmi_collocations",
        # born-demoted: robust-statistics composition over the
        # exact-selection engine; rank-statistics rep in-window
        "winsorized_stats": "quality_decile_stats",
        # born-demoted: events time-accounting family (first-touch
        # running-distinct identity)
        "cumulative_new_users": "events_hourly",
        # born-demoted: daily-volume monitoring family (MAD flags
        # outlier days; CUSUM locates the level shift)
        "cusum_changepoint": "events_hourly",
        # born-demoted: evaluation harness over the in-window
        # bm25_topk ranker
        "mrr_eval": "bm25_topk",
        # born-demoted: user-behavior accounting family
        "bot_regularity_scores": "events_funnel",
        # born-demoted: rank-statistics family (numeric-key global
        # rank without a single-partition window)
        "rank_normalize": "quality_decile_stats",
        # born-demoted: directional member of the exact set-
        # similarity join family
        "containment_join": "setsim_join_exact",
        # demoted for ip_lpm_enrich: capped co-occurrence counting in
        # exact integer micro-units; its family rep in-window is
        # word_cooccurrence, the windowed-text member
        "item_cooccurrence_sim": "word_cooccurrence",
        # demoted for geo_grid_join: graph pattern counting; the
        # graph-analytics family reps in-window are
        # pagerank_centrality + dedup_clusters
        "triangle_counts": "pagerank_centrality",
        # born-demoted: fractional-credit counterpart of the
        # last-touch as-of attribution join in-window
        "multi_touch_attribution": "purchase_attribution_asof",
        # born-demoted: fifth iterative-graph discipline (peeling)
        # over the shared link graph
        "kcore_decomposition": "pagerank_centrality",
        # born-demoted: gaps-and-islands interval fold; gap-based
        # session family rep in-window is events_funnel
        "interval_coalesce": "events_funnel",
        # born-demoted: deterministic-sampling family
        "weighted_priority_sample": "mixture_resample",
        # born-demoted: daily-volume profile family
        "seasonality_index": "events_hourly",
        # born-demoted: composition of last-touch attribution and the
        # exact selection engine
        "time_to_convert": "purchase_attribution_asof",
        # born-demoted: training-pair mining over the near-dup
        # cluster structure
        "contrastive_triplets": "dedup_clusters",
        # born-demoted: wedge-join missing-edge scoring over the
        # shared link graph; graph-analytics reps in-window
        "link_prediction_ra": "pagerank_centrality",
        # born-demoted: n-gram-overlap decontamination; the exact-
        # match decontamination rep is in-window
        "ngram_decontaminate": "bloom_prefilter_decontaminate",
        # born-demoted: importance-weighted data selection; the
        # deterministic-selection rep is in-window
        "dsir_select": "mixture_resample",
        # born-demoted: diversified re-ranking over retrieval
        # shortlists; ranked-retrieval rep bm25_topk is in-window
        "mmr_diverse_topk": "bm25_topk",
        # born-demoted: composition of the iterative-graph and
        # windowed-text families; graph rep pagerank_centrality
        "textrank_keywords": "pagerank_centrality",
        # born-demoted: training-example construction; rep
        # document_packing is in-window
        "t5_span_corruption": "document_packing",
        # born-demoted: data-audit family; rep table_profile is
        # in-window
        "fd_violations": "table_profile",
        # born-demoted: sixth iterative-graph discipline (local-min
        # matching); graph reps pagerank_centrality + dedup_clusters
        "greedy_matching": "pagerank_centrality",
        # born-demoted: graph training-sequence generation (fixed-K
        # walk recurrence over the shared link graph)
        "deepwalk_walks": "pagerank_centrality",
        # born-demoted: ANN-ladder codebook-compression variant
        # (ADC shortlist + exact rerank); ANN rep ivf_ann_topk
        "pq_ann_topk": "ivf_ann_topk",
        # born-demoted: training-example construction (NSP pairs);
        # rep document_packing is in-window
        "nsp_pairs": "document_packing",
        # born-demoted: interleaved-span multimodal pairing; the
        # span-derivation rep extract_flagship is in-window
        "caption_pairs": "extract_flagship",
        # born-demoted: classifier-acceptance evaluation over the
        # in-window scorer families; eval rep ann_recall_eval
        "roc_auc_eval": "ann_recall_eval",
        # born-demoted: survival member of the events time-accounting
        # family; reps events_hourly + user_retention_cohorts
        "survival_hazard": "user_retention_cohorts",
        # born-demoted: geometry-driven data selection; selection
        # reps mixture_resample + training_shuffle_order in-window
        "kcenter_coreset": "mixture_resample",
        # born-demoted: label manufacturing for the scorer family;
        # rep hashed_classifier_score in-window
        "weak_label_report": "hashed_classifier_score",
        # born-demoted: data-placement/routing audit; layout family
        # reps document_packing + snapshot_diff in-window
        "rendezvous_shards": "document_packing",
        # born-demoted: reliability-diagram sibling of roc_auc_eval;
        # rank-statistics rep quality_decile_stats in-window
        "calibration_bins": "quality_decile_stats",
        # born-demoted: observational-causal sibling of the
        # experimentation family; rep ab_experiment_report in-window
        "ipw_stratified_effect": "ab_experiment_report",
        # born-demoted: seventh iterative-graph discipline (weighted
        # relaxation); graph reps pagerank_centrality + dedup_clusters
        "sssp_weighted": "pagerank_centrality",
        # born-demoted: partition-quality metric over the graph
        # family; reps pagerank_centrality + dedup_clusters
        "modularity_score": "pagerank_centrality",
        # born-demoted: O(delta) graph-state maintenance; reps
        # dedup_clusters (CC) + rollup_incremental (merge == full)
        "cc_incremental": "dedup_clusters",
        # born-demoted: rank-association pair statistic; rep
        # quality_decile_stats (rank statistics) in-window
        "kendall_tau_eval": "quality_decile_stats",
        # born-demoted: audio leg of the multimodal plumbing family;
        # rep media_metadata (image leg) in-window
        "audio_segments": "media_metadata",
        # born-demoted: ordered-sequence mining over the same
        # user-ordered session windows as events_funnel
        "seq_patterns": "events_funnel",
        # born-demoted: training-pair generation over token windows;
        # rep word_cooccurrence (same windowed-pair family)
        "skipgram_negsamp": "word_cooccurrence",
        # born-demoted: composite-state frontier expansion; rep
        # pagerank_centrality (the in-window iterative-graph rep,
        # same as bfs_distances' own mapping)
        "harmonic_centrality": "pagerank_centrality",
        # born-demoted: recency-weighted event-time rollup
        "trending_users": "events_hourly",
        # born-demoted: per-row quality-signal scoring
        "readability_scores": "gopher_quality_rules",
        # born-demoted: numeric-pair association statistics; the
        # in-window feature-statistics rep
        "corr_features": "quality_decile_stats",
        # born-demoted: label-agreement statistic; in-window rep of
        # the labeling-diagnostics family
        "cohens_kappa": "quality_decile_stats",
        # born-demoted: collision-free (suffix prefix-doubling)
        # sibling of the hashed-gram repeated-span family
        "substring_dup_spans": "passage_dedup",
        # born-demoted: video leg of the multimodal plumbing family
        # (audio_segments is the tail sibling, same rep)
        "video_frames": "media_metadata",
        # born-demoted: 8th iterative-graph discipline (Boruvka MSF);
        # in-window iterative-graph rep
        "msf_summary": "pagerank_centrality",
        # born-demoted: density-clustering member of the grid-cell
        # spatial family
        "grid_dbscan": "geo_grid_join",
        # born-demoted: imputing sibling of the spine-densification
        # family
        "events_interp_hourly": "events_hourly",
        # born-demoted: numeric-feature sibling of the drift family
        # (corpus_drift_terms maps to the same in-window rep)
        "events_value_drift": "pmi_collocations",
        # born-demoted: dendrogram-cut composition over the MSF
        # (msf_summary is the tail sibling, same in-window rep)
        "single_linkage_clusters": "pagerank_centrality",
        # born-demoted: distribution-law member of the data-audit
        # family (constraint_audit maps to the same rep)
        "benford_orders": "table_profile",
        # born-demoted: smoothing member of the event-time rollup
        # family
        "events_ewma_daily": "events_hourly",
        # born-demoted: suppression sibling of the behavioral event
        # family (the bot_regularity_scores rep)
        "alert_throttle": "events_funnel",
        # born-demoted: ninth iterative-graph discipline (topological
        # layering); in-window iterative-graph rep
        "dag_layers": "pagerank_centrality",
        # born-demoted: rank-correlation member of the statistics
        # family (the corr_features/cohens_kappa rep)
        "spearman_activity": "quality_decile_stats",
        # born-demoted: crawl-policy admission member of the
        # rule-gating family (url_canonicalize / frontier_schedule
        # are tail siblings)
        "robots_filter": "gopher_quality_rules",
        # born-demoted: variance-reduction member of the experiment
        # family (ipw_stratified_effect is the tail sibling)
        "cuped_effect": "ab_experiment_report",
        # born-demoted: position-debiasing member of the behavioral
        # event family (mrr_eval / rank_normalize are tail siblings)
        "coec_position_bias": "events_funnel",
        # born-demoted: finite-sample-calibration member of the
        # evaluation family (roc_auc_eval / calibration_bins are
        # tail siblings)
        "conformal_thresholds": "quality_decile_stats",
        # born-demoted: tenth iterative-graph discipline (edge
        # peeling with recount; kcore_decomposition and
        # triangle_counts are the tail siblings)
        "ktruss_edges": "pagerank_centrality",
        # training-data-layout family: deterministic ordering is a
        # sibling of the packing layout kept in-window
        "training_shuffle_order": "document_packing",
        # born-demoted: sliding-distinct growth curve
        "rolling_active_users": "user_retention_cohorts",
        # born-demoted: experiment assignment-integrity gate
        "srm_check": "ab_experiment_report",
        # born-demoted: evaluation-split sibling
        "stratified_kfold": "cluster_safe_split",
        # born-demoted: coverage-objective data selection
        "greedy_set_cover": "mixture_resample",
        # born-demoted: bounded-hop graph propagation
        "graph_feature_agg": "pagerank_centrality",
        # born-demoted: leakage-safe feature encoding
        "loo_target_encoding": "hashed_classifier_score",
        # born-demoted: positional ranked retrieval
        "proximity_topk": "bm25_topk",
        # born-demoted: partition-agreement evaluation
        "adjusted_rand_index": "ann_recall_eval",
        # born-demoted: JOIN-view maintenance
        "join_view_incremental": "rollup_incremental",
        # born-demoted: topic-boundary segmentation
        "texttiling_boundaries": "document_packing",
        # born-demoted: axiomatic attribution
        "shapley_attribution": "purchase_attribution_asof",
        # born-demoted: embargoed feature-store as-of
        "pit_feature_join": "purchase_attribution_asof",
    }
    for variant in tail:
        assert family_rep[variant] in windowed, (
            f"{variant} demoted but its family rep "
            f"{family_rep[variant]} is not in the window"
        )


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, ddb, name):
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    odf = ddb.execute(ORACLES[name]).fetchdf()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{name}: columns {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"{name}: {len(sdf)} vs {len(odf)} rows"
    cols = sorted(sdf.columns)
    s_rows = _normalize(sdf.to_dict("records"), cols)
    o_rows = _normalize(odf.to_dict("records"), cols)
    mism = [i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if repr(a) != repr(b)]
    assert not mism, (
        f"{name}: {len(mism)} mismatched rows; first: "
        f"{s_rows[mism[0]]} vs {o_rows[mism[0]]}"
    )


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    n = df.count()
    assert n >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_flagship_plan_shape(spark):
    """Pin the flagship's physical plan: exactly ONE exchange (the
    explicit salted doc_id repartition) and exactly ONE Python
    crossing — the ``MapInArrow`` span pass that runs stage B strip +
    stage C translate over Arrow batches. Perf drift from an added
    shuffle or an accidental Python UDF shows up here before it shows
    up as an un-adjudicable bench delta."""
    df = QUERIES["extract_flagship"](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, (
        f"flagship grew to {plan.count('Exchange')} exchanges"
    )
    for marker in (
        "ArrowEvalPython",
        "BatchEvalPython",
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "PythonUDF",
    ):
        assert marker not in plan, f"flagship gained a {marker} crossing"
    assert plan.count("MapInArrow") == 1, plan
