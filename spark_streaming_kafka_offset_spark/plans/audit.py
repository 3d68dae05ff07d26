"""Plan-audit policy + sweep — the ONE source of truth for which
scale-hostile plan shapes are deliberately allowed (VERDICT r5 #2: the
tool's private allowlist had drifted from the curated one in
tests/test_plans.py and the tool exited FAILED on a green tree; both now
import THIS module, and tests/test_plans.py::test_audit_sweep_is_clean
runs the sweep so the tool can never silently drift again).

Flags:
  CARTESIAN   CartesianProduct anywhere
  NLJ         BroadcastNestedLoopJoin — fine only when a tiny BOUNDED
              side is deliberately broadcast (scalar frames, literal
              dims, model-sized tables); every allowed key carries the
              reviewed reason
  SINGLE      Exchange SinglePartition feeding a non-trivial subtree —
              a single-task bottleneck unless the exchanged frame is
              rollup-sized (bounded by calendar days, bucket count,
              rule count, or a 1-row scalar), which every allowed key's
              reason states
  PYUDF       BatchEvalPython — row-at-a-time Python in the hot path;
              allowed only for the deliberate SURVEY §2.11 demos
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

#: key → reviewed reason a BroadcastNestedLoopJoin is acceptable.  Every
#: side is bounded: a 1-row scalar frame, a literal dim, or a model-sized
#: table that never grows with the corpus.
BNL_ALLOWED: dict[str, str] = {
    "join_cross": "the 5x5 cartesian SURVEY 2.3 demo - cartesian is the point",
    "eval_krippendorff_alpha": "broadcast 1-row do_num/totals/n_units "
    "frames crossed onto the <=|cats| (3-row) category rollup",
    "join_theta_range": "theta join over broadcast 25-row nation",
    "join_interval": "broadcast 4-row period dim",
    "fn_fuzzy": "broadcast literal name list (3 rows)",
    "text_tfidf": "broadcast 1-row n_docs frame",
    "text_bigram_pmi": "broadcast 1-row totals frame",
    "sim_topk_ivf": "broadcast nlist=16 centroid table (assignment step)",
    "q22_idle_customers": "broadcast 1-row (sum, count) scalar frame",
    "q11_top_nations": "broadcast 1-row global-total scalar frame",
    "q15_top_supplier": "broadcast 1-row global-MAX scalar frame",
    "data_quality_rules": "broadcast 1-row checked/violation scalar frames",
    "detect_hot_keys": "broadcast 1-row W-total frame onto k candidate rows",
    "graph_triangle_count": "broadcast 1-row triangle/wedge scalar frames",
    "graph_clustering_coefficient": "broadcast 1-row (n_nodes, WS "
    "average) scalar frame crossed onto the 10-row decile rollup",
    "graph_assortativity": "broadcast 1-row (m, r) scalar frame crossed "
    "onto the <=64-row log2 degree-class rollup",
    "eval_ndcg": "broadcast 1-row (total, mean) scalar frame crossed "
    "onto the 10-row decile rollup",
    "eval_mrr": "broadcast 1-row (total, mean) scalar frame crossed "
    "onto the <=11-row reciprocal-rank value rollup",
    "eval_map": "broadcast 1-row (scored, map) scalar frame crossed "
    "onto the 10-row decile rollup",
    "eval_rbo": "broadcast 1-row (total, mean) scalar frame crossed "
    "onto the 10-row decile rollup",
    "graph_modularity": "broadcast 1-row m/num scalar frames crossed "
    "onto the <=|nations|-row community rollup",
    "agg_odds_ratio_mh": "broadcast 1-row MH/marginal scalar frame "
    "crossed onto the <=|years|-row stratum frame",
    "agg_ljung_box": "broadcast 8-row lag dim onto the calendar-sized "
    "daily rollup (events_cross_correlation's lag-dim posture)",
    "agg_gamma_gk": "broadcast <=550-cell contingency self-pair "
    "(g < g' theta join — the jonckheere_terpstra posture)",
    "agg_brown_forsythe": "broadcast 11-row group-median frame back "
    "onto the scan + 1-row F frame onto the 11-row median frame",
    "embed_silhouette": "broadcast |labels|-row centroid frame against "
    "the feature scan (the kmeans assignment posture) + 1-row overall "
    "cross onto the |labels|-row rollup",
    "agg_jonckheere_terpstra": "broadcast <=550-cell contingency "
    "self-pair (g < g' theta join, bounded 11x50 domain) + 1-row "
    "statistic frame crossed onto the 11-row group frame",
    "events_lead_lag_cmh": "type-pair move join on the densified "
    "|types|x|days| calendar grid (<=750 rows, bounded generator; the "
    "d-equijoin broadcasts the tiny move frame)",
    "orders_newsvendor": "|brands|x|days| densifying spine (bounded "
    "grid generator, broadcast calendar side) + broadcast 3-row "
    "service-level dim onto the value-level rollup",
    "orders_eoq": "broadcast 3-row cost-ratio dim onto the "
    "<=|brands|-row annualized-demand frame",
    "agg_cliffs_delta": "broadcast <=50x50 value-cell dominance cross "
    "(the gamma_gk contingency posture) + 1-row GT/LT frame crossed "
    "onto the 1-row sizes frame",
    "agg_mood_median": "broadcast 1-row grand-median frame onto the "
    "scan + 1-row totals/chi2 frames crossed onto the 11-row group "
    "frame",
    "agg_page_trend": "1-row dims/L2 scalar frames crossed onto the "
    "k-row rank-sum frame (the friedman posture)",
    "eval_ece": "broadcast 1-row (n, gap_sum, mce) frame crossed onto "
    "the 10-row bin rollup (the brier_decomposition posture)",
    "agg_quade_test": "1-row dims/A16/B16n scalar frames crossed onto "
    "the k-row weighted-rank frame (the friedman posture)",
    "corpus_psi_drift": "broadcast 1-row smoothed-total frame crossed "
    "onto the 10-row bin rollup (the eval_ece posture)",
    "orders_croston_demand": "broadcast 150-row e12 weight literal dim "
    "against the per-part demand sequence (the holt_winters filter "
    "posture)",
    "agg_friedman_test": "bounded |types|x|days| densifying grid (the "
    "calendar x vocabulary generator) + broadcast 1-row dims/dev scalar "
    "frames onto the k-row treatment frame",
    "orders_basket_affinity": "broadcast 1-row basket-total scalar frame",
    "events_funnel_windowed": "broadcast 1-row stage-count scalar frames",
    "sim_topk_pq": "broadcast m*ksub=256-row codebook + query LUT table",
    "rollup_hll_intersect": "broadcast |types|-row sketch frame pair grid",
    "dedup_lsh_recall": "broadcast 1-row count scalar frames (eval report)",
    "analyze_sampled_stats": "broadcast 1-row exact/sampled profile frames",
    "kmeans_lloyd_exact": "broadcast k=4 centroid frame per Lloyd iteration",
    "dedup_semantic": "broadcast k=8 centroid frame per Lloyd iteration "
    "+ final assignment (the kmeans_lloyd_exact recipe)",
    "sim_hard_negatives": "label-INEQUALITY join of the 4% query sample "
    "against the scan (the exact path; production mines from an ANN "
    "shortlist — docstring)",
    "feat_hashing_collisions": "broadcast 3-row width dim crossed onto "
    "the vocab-sized distinct-feature frame",
    "text_bm25_topk": "broadcast 1-row corpus-constants frame onto the "
    "vocab x 5-term scoring frame",
    "agg_trend_cochran_armitage": "broadcast 1-row totals/statistic "
    "frames onto the <=10-bucket rollup",
    "privacy_t_closeness": "broadcast |segments|-row global mix + "
    "1-row total frame onto the QI-sized class rollup (the zero-cell "
    "grid generator)",
    "privacy_forget_user_purge": "broadcast 1-row residual-count frame "
    "onto the 1-row per-table plan frames",
    "events_acf": "broadcast 1-row denominator (global variance) scalar frame",
    "events_holt_forecast": "broadcast 1-row (level, trend) state frame "
    "onto the 7-row horizon frame",
    "agg_theilsen_trend": "calendar-rollup pair grid (<=59 days -> ~1.7k "
    "slopes) + broadcast 1-row n_days frame",
    "agg_kruskal_wallis": "broadcast 1-row pooled-total + 1-row tie-term "
    "scalar frames crossed onto the k-row group frame (calendar-rollup "
    "inputs, bounded at any corpus)",
    "events_user_lifecycle": "broadcast |weeks|-row calendar frame cross "
    "onto the user dim (the bounded grid generator)",
    "agg_kmv_jaccard": "broadcast 10-row literal pair dim onto the "
    "(type,user) distinct frame (disjunctive membership predicate; "
    "dim x 10 fanout, never event-grain)",
    "eval_isotonic_calibration": "broadcast <=55-row pair grid / "
    "<=10-row cum frame range-joins (j<=bin<=k) for the PAVA minimax "
    "— both sides bin-bounded at any corpus",
    "agg_incremental_state_merge": "broadcast 1-row cutover-date frame "
    "onto the scan (stream_offset_commit_lag's horizon pattern)",
    "events_ab_cuped": "broadcast 1-row experiment-cutover frame onto "
    "the scan + broadcast 1-row pooled-moments frame onto the 2-row "
    "variant frame (both sides rollup-bounded)",
    "events_cross_correlation": "broadcast 1-row bounds frame for the "
    "spine explode + broadcast 15-row lag dim onto the calendar-sized "
    "daily rollup (calendar x 15 fanout, never event-grain)",
    "orders_chain_ladder": "broadcast 1-row cutoff frame onto the "
    "cohort dim + broadcast 1-row factor frame onto the <=|months|-row "
    "basis rollup (both rollup-bounded)",
    "agg_kendall_tau": "calendar-month rollup pair grid (~80 months -> "
    "~3.2k pairs; the agg_theilsen_trend posture) + broadcast 1-row "
    "n_months frame",
    "events_shapley_attribution": "16-row coalition grid x <=16-row "
    "mask rollup (mask&T / T|bit predicates on literal dims) + "
    "broadcast 1-row converter/unattributed scalar frames",
    "corpus_dsir_weights": "broadcast 1-row corpus-totals frame onto "
    "the 64-row bucket model rollup (text_tfidf's n_docs posture)",
    "events_cusum_drift": "broadcast 1-row target-mean frame and "
    "1-row alarm-threshold frame onto the calendar-day rollup",
    "agg_hurst_exponent": "broadcast 1-row hour-bounds frame (spine "
    "generator) + broadcast 4-row block-size dim onto the "
    "calendar-hour rollup (events_cross_correlation's lag-dim posture)",
    "orders_abc_xyz": "broadcast 1-row month-count frame onto the "
    "part rollup",
    "agg_jackknife_ratio": "broadcast 1-row pooled-totals frame onto "
    "the <=25-row nation rollup",
    "docs_nb_quality_classifier": "broadcast 1-row median / totals / "
    "prior scalar frames onto the doc and 64-row model frames",
    "agg_ttest_paired": "broadcast 1-row median-date cutover frame "
    "onto the scan (events_ab_cuped's horizon pattern)",
    "agg_fdr_bh": "broadcast 1-row global mean/ss frame onto the "
    "25-row nation rollup (agg_jackknife_ratio's posture)",
    "corpus_dedup_rate_curve": "broadcast 5-row literal threshold dim "
    "onto the pair set (integer inequality join; pair-bounded fanout)",
    "agg_pinball_loss": "broadcast 2-row quantile dim / 2-row frozen "
    "forecast frame onto the calendar-day rollup",
    "agg_theil_inequality": "broadcast 1-row grand-totals frame onto "
    "the <=|nations x bands| cell rollup",
}

#: key → reviewed reason an Exchange SinglePartition is acceptable.  The
#: exchanged frame is rollup-sized — bounded by the calendar, a bucket /
#: rule / class count, or literally one row — never corpus-sized.
SINGLE_ALLOWED: dict[str, str] = {
    "eval_krippendorff_alpha": "1-row do_num / (nn, s2) / n_units "
    "frames reduced from the order-grain rollup (map-side partial "
    "agg; the agg_partial_corr posture)",
    "docs_bleu": "1-row corpus reduce of the pair-grain BLEU sums "
    "(map-side partial agg; BLEU is DEFINED corpus-level)",
    "docs_chrf": "1-row corpus reduce of the pair-grain chrF sums "
    "(map-side partial agg; chrF is DEFINED corpus-level — the "
    "docs_bleu shape at character grain)",
    "eval_mcc": "cumulative/decile windows over the range-bounded "
    "(<=~500-row) $1 score-cdf rollup (the eval_confusion_thresholds "
    "shape)",
    "eval_concordance_ccc": "1-row six-sum reconciliation reduce "
    "(map-side combined; the agg_corr_exact scalar-exchange shape)",
    "sort_multi": "numPartitions-row per-partition-offsets frame "
    "(range-partitioned dense-index recipe), not data",
    "graph_shortest_paths": "1-row frontier-count termination check per "
    "BFS round; vertex/edge frames stay hash-partitioned",
    "graph_kcore": "union of three 1-row trajectory-count reduces over "
    "the checkpointed per-round degree tables (r15 lazy counts — the "
    "per-round .first() round-trips folded into one action); edge/"
    "degree frames stay hash-partitioned",
    "events_dau_mau_stickiness": "boundary-sweep cumsum over the "
    "calendar-sized (days) delta rollup",
    "events_rolling_active": "same interval-merge sweep: calendar-sized "
    "delta rollup cumsum",
    "orders_backlog_sweep": "open/close boundary sweep over the "
    "calendar-sized rollup",
    "dedup_lsh_recall": "1-row truth/candidate count frames of the "
    "recall report",
    "graph_triangle_count": "1-row triangle and wedge total frames",
    "analyze_sampled_stats": "1-row exact and sampled profile frames",
    "analyze_table_stats": "1-row per-column profile frames (union of "
    "scalars)",
    "table_skew_stats": "rank window over the distinct-key rollup "
    "(default path; scale_twopass=True range-partitions the rank)",
    "agg_histogram": "share window over the <=12-bucket rollup",
    "orders_abc_pareto": "cumulative-share window over the per-customer "
    "spend rollup (customer-dim-sized, the documented posture)",
    "orders_seasonality": "share window over the <=7-row weekday rollup",
    "orders_basket_affinity": "rank over the pair-combination rollup",
    "events_ab_lift": "2-row per-arm conversion frame + 1-row z-stat",
    "q6_forecast_revenue": "1-row global aggregate result",
    "q14_promo_share": "1-row promo/total conditional-agg result",
    "q17_small_quantity": "1-row global avg-quantity scalar and result",
    "q19_disjunctive_pred": "1-row disjunctive-predicate agg result",
    "q11_top_nations": "value rollup is nation-sized (25); threshold "
    "scalar is 1 row",
    "q15_top_supplier": "1-row global-MAX revenue scalar",
    "q22_idle_customers": "1-row global acctbal average scalar",
    "text_tfidf": "1-row corpus n_docs frame",
    "data_quality_rules": "rule-count-sized violation summary frames",
    "events_funnel": "1-row three-stage funnel counts",
    "events_funnel_windowed": "1-row windowed stage-count frames",
    "orders_rfm_segments": "global NTILE windows on the customer-sized "
    "rollup (default; scale_boundaries=True broadcasts approx quantiles)",
    "scan_zorder_pruned": "1-row final aggregate over the pruned scan",
    "detect_hot_keys": "k-candidate heavy-hitter frame + 1-row W total",
    "agg_chisq_independence": "grand-total window over the |segments| x "
    "|priorities| (25-row) contingency rollup",
    "feat_target_encode": "global-totals window over the |segments|-row "
    "(5) encoding rollup; the fact side joins it by broadcast",
    "feat_onehot_topk": "vocabulary rank window over the |types|-row "
    "(6; dim-sized at any corpus) frequency rollup",
    "events_acf": "global-moment window + lag self-join over the "
    "calendar-sized daily-count rollup",
    "corpus_mixture_plan": "global-min window over the |langs|-row "
    "availability rollup",
    "events_holt_forecast": "global-max anchor window + state aggregate "
    "over the calendar-sized daily rollup",
    "agg_theilsen_trend": "1-row median-of-slopes aggregate over the "
    "calendar-bounded pair rollup",
    "orders_hazard_table": "suffix-sum window over the <=|months| "
    "lifetime rollup",
    "table_partition_advisor": "per-candidate 1-row profile frames "
    "(union of bounded-rollup maxima)",
    "docs_curriculum_order": "rank window over the |langs|-row distinct "
    "frame (the corpus-sized rank is lang-partitioned)",
    "events_stl_decompose": "centered trend window over the "
    "calendar-sized daily rollup",
    "events_new_users_daily": "cumsum window over the calendar-sized "
    "new-user rollup",
    "orders_ship_delay_histogram": "share window over the "
    "calendar-span-bounded week-bucket rollup",
    "corpus_heaps_curve": "cumsum window over the corpus-position "
    "bucket rollup",
    "agg_share_of_total_nested": "global share window over the "
    "<=25-row nation rollup",
    "agg_ks_test": "cumulative/max windows over the <=100-row $5k "
    "price-bucket rollup (binning bounds the ordered state)",
    "agg_mannwhitney_u": "rank-sum cumsum over the same <=100-row "
    "bucket rollup + 1-row statistic frame",
    "agg_kruskal_wallis": "pooled mid-rank window over the <=155-row "
    "(type, day) calendar rollup",
    "agg_covariance_matrix": "1-row sufficient-statistics frame "
    "(n, 4 sums, 10 cross-sums) fanned to 10 literal rows",
    "agg_gini_lorenz": "rank/ntile windows over the customer-dim "
    "revenue rollup (two-pass range rank documented for giant dims) "
    "+ decile windows on the 10-row frame",
    "events_benford_deviation": "ppm windows over the 9-row digit "
    "rollup",
    "events_drift_jsd": "LAG window over the calendar-sized daily-mix "
    "rollup",
    "orders_skyline_2d": "suffix-max RANGE window over the customer-dim "
    "revenue rollup (suffix maxima range-partition cleanly — the "
    "two-pass variant is the documented giant-dim path)",
    "events_burst_hysteresis": "global min/max hour-index window (two "
    "scalars) over the |types| x |hours| rollup; the state windows are "
    "type-partitioned",
    "eval_score_reliability": "base-rate window over the range-bounded "
    "(~10-row) $50 score-bucket rollup",
    "eval_confusion_thresholds": "cumulative/decile windows over the "
    "range-bounded (<=~500-row) $1 score-cdf rollup",
    "feat_woe_iv": "totals + IV-sum windows over the |segments| x "
    "|priorities| (25-row) WoE rollup",
    "events_kaplan_meier": "at-risk suffix sum + cumulative-ln windows "
    "over the follow-up-window-bounded (<=12-row) duration rollup",
    "events_nelson_aalen": "at-risk suffix sum + cumulative e12-hazard "
    "windows over the same <=12-row duration rollup (kaplan_meier's "
    "frame)",
    "graph_clustering_coefficient": "decile rollup + 1-row WS-average "
    "scalar frame over the node-grain cc frame",
    "graph_assortativity": "1-row S1/S2/S3 moment frame (map-side "
    "partial agg; the triangle_count scalar posture) + <=64-row "
    "degree-class rollup",
    "agg_friedman_test": "1-row dims/dev scalar frames reduced from the "
    "bounded |types|x|days| grid (<=155 rows at any corpus)",
    "eval_ndcg": "1-row (n_orders_total, mean) frame reduced from the "
    "order-grain scored frame (map-side partial agg)",
    "eval_mrr": "1-row (n_orders_total, mean) frame reduced from the "
    "order-grain scored frame (map-side partial agg)",
    "eval_map": "1-row (n_orders_scored, map) frame reduced from the "
    "order-grain scored frame (map-side partial agg)",
    "eval_rbo": "1-row (n_orders_total, mean) frame reduced from the "
    "order-grain scored frame (map-side partial agg)",
    "graph_rich_club": "suffix-sum window over the <=64-row merged "
    "log2-class histogram (bounded at any corpus)",
    "graph_modularity": "1-row m and modularity-numerator frames "
    "reduced from the edge-label scan / <=|nations|-row rollup",
    "agg_odds_ratio_mh": "1-row MH-sum frame reduced from the "
    "<=|years|-row stratum rollup",
    "agg_mcnemar": "1-row discordant-cell reduce from the "
    "customer-grain paired agg (map-side partial agg)",
    "agg_cochran_q": "1-row column-total reduce from the "
    "customer-grain three-era paired agg (the agg_mcnemar posture)",
    "agg_gamma_gk": "1-row concordant/discordant reduce from the "
    "bounded contingency cross",
    "agg_brown_forsythe": "1-row F reduce from the 11-row group-moment "
    "frame (e6-floored integer SSB/SSW sums)",
    "embed_silhouette": "1-row overall-mean frame + |labels|-row "
    "centroid frame reduced from the vector scan (map-side partial "
    "agg)",
    "agg_jonckheere_terpstra": "1-row 2J/group-moment/value-moment "
    "frames reduced from the <=550-cell contingency rollup",
    "agg_partial_corr": "1-row nine-moment frame reduced from the "
    "order-grain rollup (map-side partial agg; covariance_matrix's "
    "posture)",
    "events_forecast_backtest": "lag/total windows over the "
    "calendar-sized daily rollup (zero-filled spine)",
    "eval_isotonic_calibration": "cumulative windows over the <=10-row "
    "$50k-bin rollup feeding the PAVA pair grid",
    "corpus_eval_allocation": "total/leftover windows + remainder rank "
    "over the |lang| x |source| (~100-row) stratum rollup",
    "agg_incremental_state_merge": "1-row cutover-date global aggregate "
    "feeding the broadcast (the q6-style scalar-result exchange)",
    "events_ab_cuped": "1-row cutover aggregate + 1-row pooled "
    "sufficient-moments aggregate over the user frame (six int128 "
    "sums, map-side-combined before the single-partition merge)",
    "events_cross_correlation": "1-row bounds aggregate feeding the "
    "spine + final ordering of the 15-row lag frame",
    "agg_hdr_histogram": "cumulative/percentile windows over the "
    "<=32-row power-of-two bucket rollup",
    "agg_welch_ttest": "1-row six-conditional-sum global aggregate "
    "(map-side-combined; the q6-style scalar-result exchange)",
    "orders_chain_ladder": "1-row max-month cutoff aggregate + 1-row "
    "development-factor aggregate over the <=|months|-row cohort pivot "
    "(both q6-style scalar-result exchanges feeding broadcasts)",
    "scan_selectivity_estimates": "1-row stats+actuals global aggregate "
    "(map-side-combined; the q6-style scalar-result exchange) feeding "
    "the 4-row predicate unpivot",
    "agg_kendall_tau": "1-row concordance aggregate over the "
    "calendar-bounded ~3.2k-pair grid + 1-row n_months scalar",
    "events_shapley_attribution": "16-row coalition-value rollup and "
    "1-row converter/unattributed scalar frames",
    "text_zipf_fit": "rank window + 1-row OLS aggregate over the "
    "100-row top-k vocabulary frame",
    "agg_cramer_von_mises": "cumsum/total windows + 1-row reduction "
    "over the <=100-bucket price rollup (agg_ks_test's shape)",
    "lineitem_price_index": "1-row base-month scalar aggregate (the "
    "q6-style scalar-result exchange feeding a broadcast)",
    "events_entropy_rate": "chain-total window over the <=|types|^2 "
    "(<=25-row) transition rollup",
    "events_cusum_drift": "cumsum/prefix-min/rank windows + 1-row "
    "threshold aggregate over the calendar-day rollup (the "
    "events_changepoint posture)",
    "agg_hurst_exponent": "4-point OLS window over the per-k R/S "
    "means (block windows are (k, blk)-partitioned; only the final "
    "<=4-row frame is single-partition)",
    "orders_abc_xyz": "revenue-share + CV-rank windows over the "
    "part-dim rollup (the orders_abc_pareto posture)",
    "agg_jackknife_ratio": "pseudo-value variance windows over the "
    "<=25-row nation rollup",
    "docs_nb_quality_classifier": "median cumsum window over the "
    "bounded density-value rollup",
    "agg_ttest_paired": "1-row five-sum aggregate (the q6-style "
    "scalar-result exchange)",
    "agg_power_analysis": "1-row six-sum conditional aggregate (the "
    "agg_welch_ttest shape)",
    "orders_weibull_fit": "cumsum + OLS windows over the "
    "delay-domain-bounded (~2.4k-row) duration rollup",
    "events_markov_stationary": "row-normalization / empirical-share "
    "windows and iteration joins over the <=|types|^2 transition "
    "rollup",
    "win_median_sliding": "7-day collect/sort window over the "
    "calendar-day rollup",
    "corpus_temperature_mixture": "weight/share/remainder-rank windows "
    "over the <=|langs x sources| (~100-row) mixture rollup (the "
    "corpus_eval_allocation posture)",
    "eval_lift_gains": "position/total/capture windows over the "
    "RANGE-bounded (~500-row) score rollup",
    "eval_brier_decomposition": "bin-total windows over the 10-row "
    "forecast-bin rollup",
    "docs_bradley_terry": "per-iteration strength renormalization "
    "window over the <=8-row band frame",
    "agg_fdr_bh": "rank / m-count / step-up-cut windows over the "
    "25-row hypothesis family",
    "orders_logrank_delay": "at-risk suffix-sum windows + 1-row test "
    "statistic over the latency-RANGE-bounded day rollup",
    "orders_diff_in_diff": "1-row 2x2 cell pivot and test statistic",
    "agg_theil_inequality": "grand-total frame (1 row) and the "
    "<=|nations x bands| cell rollup its shares join",
    "embed_hubness": "share window over the in-degree histogram "
    "(bounded by max in-degree)",
    "corpus_dedup_rate_curve": "1-row within-group pair total and the "
    "5-row threshold curve assembly",
    "eval_pr_auc": "cumulative windows over the RANGE-bounded "
    "(source, score) rollup",
    "agg_pinball_loss": "train-quantile rank window over the "
    "calendar-day rollup",
    "agg_mutual_information": "margin/MI/entropy windows over the "
    "<=|types x buckets| (~50-row) cell rollup",
    "events_periodogram": "index/total windows over the <=31-row "
    "daily rollup and the 9-row spectrum rank",
    "events_conversion_lag": "share/cumulative windows over the "
    "time-span-bounded hour-bucket histogram",
    "text_bm25_topk": "top-DF-5 term election window over the "
    "vocab-sized df frame",
    "orders_repeat_purchase_curve": "suffix-sum windows over the "
    "max-orders-per-customer-bounded k histogram",
    "events_sprt_purchase_rate": "cumulative LLR window over the "
    "<=31-row daily rollup",
    "events_ab_srm": "share/chi2 windows over the 2-row variant frame",
    "events_holt_winters_forecast": "day-index window over the "
    "<=31-row daily rollup feeding the literal filter join",
    "events_runs_test": "two ordered lag windows + 1-row agg over the "
    "<=31-row daily rollup",
    "events_hodges_lehmann_daily": "Walsh-grid rank windows over the "
    "calendar-bounded (type, day) rollup",
    "privacy_t_closeness": "1-row corpus-total frame feeding the "
    "QI-sized grid",
    "privacy_forget_user_purge": "three 1-row per-table plan frames "
    "unioned into the report",
    "agg_trend_cochran_armitage": "per-bucket table assembly over the "
    "<=10-bucket rollup",
    "agg_cliffs_delta": "1-row GT/LT/TIE reduce from the bounded "
    "<=50x50 cell cross + 1-row group-sizes reduce (the gamma_gk "
    "scalar shape)",
    "agg_mood_median": "grand-median cum window over the <=50-row "
    "global value-cell frame + 1-row totals/chi2 reduces from the "
    "11-row group frame",
    "agg_ansari_bradley": "mid-rank/total windows over the <=50-row "
    "global value-cell frame + 1-row six-moment reduce",
    "agg_durbin_watson": "final ordering of the <=|types|-row output "
    "frame (LAG windows are type-partitioned)",
    "agg_page_trend": "day-partitioned ranks collapse to the k-row "
    "rank-sum frame; 1-row dims/L2 reduces (the friedman shape)",
    "eval_ece": "1-row (n, gap_sum, mce) reduce from the 10-row bin "
    "rollup (the brier_decomposition shape)",
    "agg_cohens_d": "1-row six-sum global aggregate (map-side "
    "combined; the agg_welch_ttest scalar-exchange shape)",
    "agg_quade_test": "block-range weight window over the "
    "calendar-day frame + 1-row dims/A/B reduces (the friedman "
    "shape)",
    "events_turning_points": "final ordering of the <=|types|-row "
    "output frame (LAG/LEAD windows are type-partitioned)",
    "corpus_psi_drift": "1-row smoothed-total reduce + bounded PSI "
    "window over the 10-row bin rollup (the eval_ece shape)",
}

#: key → reason a CartesianProduct is the operator's very semantics.
CARTESIAN_ALLOWED: dict[str, str] = {
    "join_cross": "the operator IS a cross join (5x5 dims)",
}

#: key → reason row-at-a-time Python is deliberate (SURVEY §2.11 demos).
PYUDF_ALLOWED: dict[str, str] = {
    "udf_python": "deliberate row-UDF demo (SURVEY 2.11)",
    "udtf_python": "deliberate UDTF demo (SURVEY 2.11)",
}

_ALLOW: dict[str, dict[str, str]] = {
    "CARTESIAN": CARTESIAN_ALLOWED,
    "NLJ": BNL_ALLOWED,
    "SINGLE": SINGLE_ALLOWED,
    "PYUDF": PYUDF_ALLOWED,
}

#: prefixes excluded from every registry sweep (this module's, and the
#: window and aggregate audits'): streaming/write entries execute rather
#: than expose a comparable batch plan; pandas grouped-map and multimodal
#: entries are Arrow exchanges by design.
SKIP_PREFIXES: tuple[str, ...] = ("stream_", "source_", "sink_", "udaf", "multimodal")


def plan_flags(plan: str) -> list[str]:
    """Scale-hostile shapes present in one executed-plan string."""
    flags = []
    if "CartesianProduct" in plan:
        flags.append("CARTESIAN")
    if "BroadcastNestedLoopJoin" in plan:
        flags.append("NLJ")
    if "Exchange SinglePartition" in plan and "TakeOrderedAndProject" not in plan:
        flags.append("SINGLE")
    if "BatchEvalPython" in plan:
        flags.append("PYUDF")
    return flags


def _simple(obj) -> str:
    """Simple class name of a JVM Catalyst node (Scala ``$`` stripped)."""
    return obj.getClass().getSimpleName().rstrip("$")


def walk(node, subqueries: bool = True) -> Iterator:
    """Pre-order walk of a JVM Catalyst tree.  With ``subqueries`` (logical
    plans) it also enters the plans held by subquery expressions; pass
    False for expression trees, which have none."""
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from walk(children.apply(i), subqueries)
    if subqueries:
        try:
            subs = node.subqueries()
        except Exception:  # noqa: BLE001 - node kinds without subqueries()
            return
        for i in range(subs.size()):
            yield from walk(subs.apply(i), subqueries)


def sweep(
    spark,
    sf_dir: str,
    check: Callable[[str, object, Callable[[str], None]], list[str]],
    keys: Iterable[str] | None = None,
    report: Callable[[str], None] | None = None,
    frames: dict | None = None,
) -> list[tuple[str, str]]:
    """Run ``check(key, df, report)`` over every registered batch query
    (or ``keys``); it reports each finding and returns the details it
    could not explain.  Return those as (key, detail) pairs, with an "ERR"
    detail when the query could not be built or inspected.  Empty list ==
    clean tree.  Audit order does not matter, so this walks ``QUERIES``
    (registration order) and never reads the driver ledgers.

    ``frames`` (key → built DataFrame, or the Exception its build
    raised) lets several sweeps share ONE query-construction pass —
    building all 462 queries dominates each sweep's wall (iterative ops
    run their staging jobs at build time), so the pytest gates build
    once and run all audits over the same frames (r15, VERDICT r14 #2a)."""
    from .registry import QUERIES

    say = report or (lambda _line: None)
    qs = QUERIES if keys is None else {k: QUERIES[k] for k in keys}
    unexplained: list[tuple[str, str]] = []
    for key, fn in qs.items():
        if key.startswith(SKIP_PREFIXES):
            continue
        try:
            df = frames[key] if frames is not None else fn(spark, sf_dir)
            if isinstance(df, Exception):
                raise df
            details = check(key, df, say)
        except Exception as e:  # noqa: BLE001 - audit must report, not die
            say(f"ERR   {key}: {type(e).__name__}: {e}")
            unexplained.append((key, "ERR"))
            continue
        unexplained += [(key, d) for d in details]
    return unexplained


def _check_plan(key: str, df, say: Callable[[str], None]) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    flagged = []
    for flag in plan_flags(plan):
        reason = _ALLOW[flag].get(key)
        if reason:
            say(f"ok    {key}: {flag} allowed ({reason})")
        else:
            say(f"FLAG  {key}: {flag}")
            flagged.append(flag)
    return flagged


def audit_plans(
    spark,
    sf_dir: str,
    keys: Iterable[str] | None = None,
    report: Callable[[str], None] | None = None,
    frames: dict | None = None,
) -> list[tuple[str, str]]:
    """Sweep every registered batch query's executed plan; return the
    (key, flag) pairs NOT covered by the allowlists (see ``sweep``)."""
    return sweep(spark, sf_dir, _check_plan, keys, report, frames)
