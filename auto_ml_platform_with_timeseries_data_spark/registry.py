"""Query registry — the single source of truth for the engine's query set.

Every operator from SURVEY.md §2 that is "done" registers here twice:

- a Spark implementation: ``Callable[(SparkSession, sf_dir)] -> DataFrame``
- (when SQL-expressible) a DuckDB oracle SQL string over the same parquet
  tables, producing identical column names and values.

``__spark_entry__.py`` re-exports this registry to the correctness driver.
Float-valued aggregate columns are rounded to a fixed number of decimals
on BOTH sides so IEEE accumulation-order differences between engines
cannot flip the driver's value hash.
"""

from __future__ import annotations

import functools
import importlib
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from auto_ml_platform_with_timeseries_data_spark.tables import release_all

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_QUERY_MODULES = (
    "auto_ml_platform_with_timeseries_data_spark.operators.profile",
    "auto_ml_platform_with_timeseries_data_spark.operators.timeseries",
    "auto_ml_platform_with_timeseries_data_spark.operators.evaluation",
    "auto_ml_platform_with_timeseries_data_spark.operators.scaling",
    # Never-driver-checked extension surface registers before the
    # relational/TPC-H block (green in rounds 1-2) so that, after the
    # _PRIORITY slots, any leftover sweep budget lands on queries with
    # no prior driver-verified rows.
    "auto_ml_platform_with_timeseries_data_spark.operators.dedup",
    "auto_ml_platform_with_timeseries_data_spark.operators.similarity",
    "auto_ml_platform_with_timeseries_data_spark.operators.text",
    "auto_ml_platform_with_timeseries_data_spark.operators.multimodal",
    "auto_ml_platform_with_timeseries_data_spark.operators.asof",
    "auto_ml_platform_with_timeseries_data_spark.operators.sessionize",
    "auto_ml_platform_with_timeseries_data_spark.operators.curation",
    "auto_ml_platform_with_timeseries_data_spark.operators.linkage",
    "auto_ml_platform_with_timeseries_data_spark.operators.validation",
    "auto_ml_platform_with_timeseries_data_spark.operators.ts_features",
    "auto_ml_platform_with_timeseries_data_spark.operators.forecast",
    "auto_ml_platform_with_timeseries_data_spark.operators.pipeline_ops",
    "auto_ml_platform_with_timeseries_data_spark.operators.layout",
    "auto_ml_platform_with_timeseries_data_spark.sources.readers",
    "auto_ml_platform_with_timeseries_data_spark.operators.graph",
    "auto_ml_platform_with_timeseries_data_spark.operators.relational",
    "auto_ml_platform_with_timeseries_data_spark.operators.tpch_more",
    "auto_ml_platform_with_timeseries_data_spark.operators.tpch3",
    # Expensive CV/streaming queries last: a budget-capped correctness
    # sweep verifies the most queries per second spent.
    "auto_ml_platform_with_timeseries_data_spark.ml.queries",
    "auto_ml_platform_with_timeseries_data_spark.streaming.events",
)

_loaded = False

# Driver-sweep priority. The correctness driver verifies queries in the
# order ``queries()`` yields them, under a 50-query budget per round.
# Every oracle-backed query through q348 has a hash-green driver row in
# some round (CORRECTNESS_r01-r14) and zero queries have EVER produced
# a red row, so evidence CURRENCY is the only remaining axis. Round 15
# spends the budget accordingly (VERDICT r14 #2):
#   1-6   canary slots — one long-green query per module family, so a
#         regression in shared infrastructure still gets witnessed
#   7-8   the round-15 registrations, never driver-witnessed:
#         q349 (sketch error-bound certificates: HLL++ group-by, HLL
#         merge rollup, KLL median rank bracket — the q175 gate
#         pattern over q81/q131's rows-only approximations) and q350
#         (fleet triage maintained as an epoch-versioned stream — the
#         q204/q236 restart discipline over q346's evidence table)
#   9-26  ALL 18 queries whose newest rows date to r7 (q31/q32/q40/
#         q41/q43/q46/q54/q61-q67/q91/q97/q98/q99)
#   27-50 the 24 alphabetically-first of the 44 r8-stale rows
# Slots past 50 are the ranked overflow the driver reaches only if its
# budget stretches — generated by (last-witnessed round ASC, name) over
# ALL oracle-backed queries, so the freshly r14-witnessed blocks sit at
# the very end. The whole tuple below is machine-generated from the
# merged CORRECTNESS_r01-r14 evidence by scripts/gen_rotation.py
# (which reproduces it slot-for-slot; re-run it each round once the
# new CORRECTNESS file lands, and update tests/test_registry.py's
# rotation test to pin the new head).
# Rows-only queries sit outside _PRIORITY entirely — a budget slot
# spent on a weaker check is a slot wasted (their machinery is
# witnessed via exact twins; README "Evidence ledger" records this).
_PRIORITY: tuple[str, ...] = (
    "q01_head", "q06_acf",
    "q12_f1_confusion", "q18_jaccard_pairs",
    "q35_embedding_neardup", "q125_key_skew",
    "q349_sketch_error_gate", "q350_stream_fleet_triage",
    "q31_set_ops", "q32_rollup",
    "q40_cube", "q41_topk_per_group",
    "q43_percentiles", "q46_distinct_counts",
    "q54_json_props", "q61_forecast_revenue",
    "q62_returned_items", "q63_promo_revenue",
    "q64_large_orders", "q65_brand_revenue_bands",
    "q66_supplier_breadth", "q67_dormant_customers",
    "q91_equidepth_hist", "q97_sole_late_supplier",
    "q98_min_cost_supplier", "q99_local_supplier_volume",
    "q05_groups", "q07_ts_split",
    "q08_ts_windows", "q09_scale_params",
    "q10_rmse", "q11_binarize",
    "q13_importance_rank", "q14_min_max",
    "q16_dedup_exact", "q19_cosine_topk",
    "q20_token_stats", "q21_quality_score",
    "q228_mann_kendall", "q22_langid",
    "q231_theil_sen_sampled", "q233_ivfpq_search",
    "q234_ivfpq_append", "q235_theil_sen_capped",
    "q236_stream_perceptual_index", "q237_audio_near_index",
    "q238_video_near_index", "q239_quantile_normalize",
    "q240_k_core", "q241_robust_quantiles",
    "q242_benford_audit", "q243_roc_auc",
    "q244_cohens_kappa", "q24_window_agg",
    "q25_sessionize", "q29_minmax_scaled",
    "q33_fingerprint", "q37_media_stats",
    "q38_media_features", "q48_histogram_auto",
    "q51_winnow_fingerprints", "q55_dedup_components",
    "q56_jsonl_roundtrip", "q57_bpe_tokens",
    "q59_resample_ffill", "q60_zscore_outliers",
    "q69_ewma", "q70_ohlc",
    "q71_lag_features", "q72_interpolate",
    "q105_dominant_suppliers", "q106_time_weighted_avg",
    "q107_cusum_changepoints", "q108_embedding_dim_stats",
    "q109_bigram_pmi", "q110_seasonal_residuals",
    "q111_repetition_ratio", "q112_word_entropy",
    "q113_target_encoding", "q114_funnel",
    "q115_cohort_retention", "q116_media_resize",
    "q117_frame_sample", "q118_embedding_quantize",
    "q119_fuzzy_decontaminate", "q121_bm25",
    "q122_window_heavy_hitters", "q123_rolling_median",
    "q124_group_ols", "q127_event_transitions",
    "q132_exact_agg_twin", "q135_chisq_independence",
    "q136_ks_drift", "q137_split_leakage",
    "q245_conformal_quantile", "q246_brier_decomposition",
    "q247_group_auc", "q248_coreness",
    "q249_negative_samples", "q250_margin_mining_scaled",
    "q251_stream_near_screen", "q252_calibration_error",
    "q253_ndcg_at_k", "q254_mrr",
    "q255_average_precision", "q256_decile_lift",
    "q257_js_divergence", "q258_bucketed_join",
    "q73_stratified_sample", "q74_hash_split",
    "q75_class_balance", "q76_pack_sequences",
    "q77_decontaminate", "q78_uniform_sample",
    "q104_small_quantity_revenue", "q120_sliding_window",
    "q128_pareto_abc", "q130_pagerank",
    "q138_span_dedup", "q139_unigram_logprob",
    "q140_containment_pairs", "q141_minhash_portable",
    "q142_simhash_portable", "q143_ann_signbucket",
    "q144_ivf_fixed_centroids", "q145_image_decode",
    "q146_xls_roundtrip", "q148_bpe_pair_counts",
    "q149_stream_sink_exactly_once", "q150_audio_features",
    "q151_csv_roundtrip", "q152_video_frames",
    "q153_sharded_export", "q154_incremental_dedup",
    "q155_zorder_keys", "q156_quantile_sketch",
    "q259_t_closeness", "q260_wasserstein_drift",
    "q261_threshold_sweep", "q262_two_proportion_z",
    "q263_gini_coefficient", "q264_cramers_v",
    "q265_kaplan_meier", "q266_dominant_acf_lag",
    "q267_margin_agreement_gate", "q39_stream_window_counts",
    "q52_stream_dedup", "q58_stream_static_join",
    "q80_partitioned_sink", "q83_merge_upsert",
    "q84_walkforward_splits", "q86_weighted_sample",
    "q87_label_centroids", "q88_centroid_assign",
    "q89_tfidf_topk", "q90_drift_psi",
    "q93_chunk_documents", "q94_redact_tokens",
    "q157_compaction", "q158_bloom_decontaminate",
    "q160_pq_fixed_codebook", "q161_temperature_mix",
    "q162_incremental_neardup", "q163_token_budget_head",
    "q164_ridge_exact_twin", "q165_index_update",
    "q166_cv_planted_optimum", "q167_gopher_gate",
    "q168_stratified_token_head", "q169_curation_pipeline",
    "q170_stream_incremental_dedup", "q172_semdedup_fixed_cells",
    "q173_scd2_dimension", "q174_snapshot_diff",
    "q175_ann_recall_gate", "q176_bpe_encode",
    "q177_margin_mining", "q178_kmv_distinct",
    "q268_margin_banded", "q269_hhi_concentration",
    "q270_lorenz_curve", "q271_nelson_aalen",
    "q272_logrank_test", "q273_zipf_slope",
    "q274_bootstrap_mean_ci", "q275_mann_whitney_u",
    "q276_kruskal_wallis", "q277_anova_f",
    "q278_cohens_d", "q279_cramer_von_mises",
    "q280_relabeling_test", "q281_bh_fdr",
    "q282_cochran_armitage", "q283_diff_in_diff",
    "q284_covariate_balance", "q285_fleiss_kappa",
    "q286_weighted_kappa", "q287_mixture_conformance",
    "q288_anderson_darling", "q289_turning_points",
    "q290_trend_strength", "q291_pacf",
    "q179_canonical_selection", "q180_leakfree_split",
    "q181_ts_lookback_planted", "q182_stream_index_maintenance",
    "q292_changepoint", "q293_von_neumann",
    "q294_hac_variance", "q295_spectral_peak",
    "q296_hll_distinct", "q297_hilbert_keys",
    "q298_dp_noisy_counts", "q299_cronbach_alpha",
    "q300_kendall_tau_b", "q301_mcnemar",
    "q302_mantel_haenszel", "q303_partial_correlation",
    "q304_grubbs", "q305_chow",
    "q306_levene_bf", "q307_runs_test",
    "q308_cox_stuart", "q309_ses_forecast",
    "q310_holt_forecast", "q311_ar2_forecast",
    "q312_mase_backtest", "q313_dickey_fuller",
    "q314_hurst_exponent", "q315_ccf",
    "q316_seasonal_mann_kendall", "q317_page_hinkley",
    "q318_welch_anova", "q319_bartlett",
    "q320_friedman", "q321_ljung_box",
    "q322_kpss", "q323_theta_forecast",
    "q324_granger_lag1", "q325_cochran_q",
    "q326_croston", "q327_ivf_coarse_assign",
    "q45_rolling_stats", "q53_stateful_user_stats",
    "q79_stream_sessions", "q85_cluster_retention",
    "q100_volume_shipping", "q183_neardup_leakfree_split",
    "q184_mad_outliers", "q185_dataset_card",
    "q186_image_dhash_dedup", "q187_audio_fingerprint_dedup",
    "q188_video_fingerprint_dedup", "q189_image_neardup_banded",
    "q190_exact_substr_rewrite", "q191_quality_classifier",
    "q192_bigram_lm_logprob", "q193_clip_pair_gate",
    "q194_video_neardup_banded", "q195_audio_neardup_banded",
    "q196_continuous_aggregate", "q197_blocking_bestmatch",
    "q198_softdedup_weights", "q199_perplexity_buckets",
    "q200_doremi_reweight", "q201_countmin_heavy_hitters",
    "q202_triangle_count", "q203_k_anonymity",
    "q204_stream_continuous_aggregate", "q205_html_extract",
    "q206_url_normalize", "q207_corr_matrix",
    "q208_ts_backtest", "q209_constraint_audit",
    "q210_cdc_apply", "q211_orc_roundtrip",
    "q212_gdpr_erasure", "q328_holt_winters",
    "q329_dedup_then_margin", "q330_audio_screen_capped",
    "q331_wilcoxon_signed_rank", "q332_damped_holt",
    "q333_seasonal_mase", "q334_conformal_forecast_pi",
    "q335_snaive_detected", "q336_chunk_documents",
    "q338_hbos_scores", "q339_robust_scale",
    "q340_seasonal_decompose", "q92_stream_stream_join",
    "q02_null_profile", "q03_histogram",
    "q04_corr_with_label", "q101_market_share",
    "q102_important_parts", "q103_order_count_distribution",
    "q126_copurchase_pairs", "q213_moment_features",
    "q214_frequent_triples", "q215_ivf_append",
    "q216_pq_append", "q217_spearman_matrix",
    "q218_ivm_join", "q219_l_diversity",
    "q220_dsir_select", "q221_zorder_pruning",
    "q222_schema_evolution", "q223_table_digest",
    "q224_image_index_update", "q225_audio_index_update",
    "q226_video_index_update", "q227_theil_sen",
    "q229_mutual_info", "q230_image_near_index",
    "q232_phrase_search", "q26_pricing_summary",
    "q27_revenue_by_nation", "q28_top_customers",
    "q30_asof_join", "q341_image_screen_capped",
    "q342_video_screen_capped", "q343_best_forecast_family",
    "q344_residual_anomaly_windows", "q345_matrix_profile_discord",
    "q346_fleet_triage", "q348_forecast_combination",
    "q42_semi_anti_join", "q44_profit_by_nation_brand",
    "q49_range_join", "q50_shipping_priority",
    "q68_grouping_sets", "q82_pivot_unpivot",
    "q95_late_order_priority", "q96_top_supplier",
)


def _ordered(d: dict) -> dict:
    """Priority names first (those registered), then registration order."""
    out = {k: d[k] for k in _PRIORITY if k in d}
    out.update((k, v) for k, v in d.items() if k not in out)
    return out


_DEPTH = threading.local()


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is DuckDB SQL or None (rows-only).

    QUERIES holds a wrapper that, on a thread's outermost registry call,
    first releases what the thread's previous query kept (tables.keep).
    The decorated name stays bound to ``fn``, so a query calling another
    directly never releases its caller's intermediates."""

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            depth = getattr(_DEPTH, "n", 0)
            if depth == 0:
                release_all()
            _DEPTH.n = depth + 1
            try:
                return fn(spark, sf_dir)
            finally:
                _DEPTH.n = depth

        QUERIES[name] = run
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _loaded = True


def queries() -> dict[str, QueryFn]:
    load_all()
    return _ordered(QUERIES)


def oracles() -> dict[str, str]:
    load_all()
    return _ordered(ORACLES)
