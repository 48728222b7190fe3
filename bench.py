"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with a noop write (full execution, no
driver-side collect).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from timeseriescorrelation_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "rollup_1m",
    "rollup_1h",
    "rollup_1d",
    "locf_1h",
    "interp_1h",
    "stats_per_user",
    "lag_delta",
    "topk_per_user",
    "rollup_summary_1d",
    "series_metrics",
    "corr_report",
    "session_stats",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "emb_neardup",
    "ann_topk",
    "ann_ivf_kmeans",
    "rolling_1h",
    "value_quantiles",
    "text_stats",
    "doc_fingerprint",
    "mm_meta",
    "asof_last_error",
    "event_sessions",
    "clip_p99",
    "m4_1h",
    "rate_1h",
    "anomaly_1h",
    "autocorr_lag1",
    "xcorr_lagged",
    "latency_percentiles",
    "decontaminate",
    "doc_repetition",
    "quantiles_scalable",
    "ewma_smooth",
    "rollup_realtime_1h",
    "event_transitions",
    "funnel_3step",
    "token_topk",
    "twa_1h",
    "heartbeat_day",
    "state_durations",
    "hll_distinct_day",
    "cms_tokens",
    "hdr_quantiles_day",
    "rolling_corr_1h",
    "bloom_decontaminate",
    "tier_upsert_1h",
    "dedup_clusters",
    "stratified_sample",
    "rank_family",
    "profile_events",
    "cusum_alerts",
    "session_overlap",
    "seasonal_profile",
    "wow_delta",
    "gap_report",
    "staleness_report",
    "rolling_p95_1h",
    "emb_clusters",
    "unpivot_tier",
    "term_salience",
    "cohort_retention",
    "conv_lifetimes",
    "emb_centroid",
    "text_scrub",
    "doc_chunks",
    "asof_tolerant",
    "tier_consistency",
    "mad_outliers",
    "cube_counts",
    # spearman_pairs DEMOTED round 3 (VERDICT r02 #1): its all-pairs
    # hourly co-occurrence join is the bounded-n verification tool;
    # spearman_pruned (HEADLINE_R3) is the scale path — rank transform
    # + the ε-grid candidate prune, gate-proven equal to all-pairs.
    "trend_daily",
    "concurrency_1h",
    "chunk_dedup",
    "lttb_1h",
    "des_brown",
    "heatmap_bins",
    "minmax_scale",
    "conv_digest",
    "asof_nearest",
    "tpch_q1",
    "tpch_q3",
    "acf_hourly",
    "sax_daily",
    "bm25_search",
    "dedup_prefix_jaccard",
    "doc_surprisal",
    "source_drift",
    "collocations_pmi",
    "phrase_search",
    "skew_report",
    "forecast_eval",
    "pagerank_events",
    "seasonal_strength",
    "hll_overlap",
    "km_survival",
    # mann_kendall is deliberately NOT benched: its O(n^2)-per-group
    # pair join is the bounded-n verification tool (trend_daily's O(n)
    # moments are the scale path) — same policy as dedup_ngram_jaccard
]

# Round-3 additions, kept in a SEPARATE list so the frozen HEADLINE
# composition above stays per-query comparable to BENCH_r02 (VERDICT
# r02 #10); the driver total covers both lists.
HEADLINE_R3 = [
    "spearman_pruned",
    "pagerank_dangling",
    "changepoint_daily",
    "burst_hours",
    "corr_matrix_daily",
    "granger_gain",
    "ks_drift",
    "entropy_daily",
    "benford",
    "hybrid_search",
    "trigram_paths",
    "sliding_quota",
    "ann_pq",
    "quantile_transform",
    "dtw_daily",
    "bpe_vocab",
    "assoc_rules",
    "bigram_surprisal",
    "activity_islands",
    "rfm_features",
    "seasonal_mad",
    "hll_rolling_7d",
    "scd2_state",
    "weighted_sample",
    "seq_packing",
    "psi_daily",
    "ann_ivf_pq",
    "funnel_timed",
    "dq_report",
    "ab_readout",
    "stl_lite",
    "trailing_active_24h",
    "burstiness_daily",
    "weighted_median",
    "sax_motifs",
    "decayed_topk",
    "kanon_report",
    "conformal_pvalue",
    "centroid_drift",
    "ann_dim_ablation",
    "expanding_zscore",
    "growth_accounting",
    "ann_int8",
    "holt_winters",
    "tpch_q5",
    "tpch_q6",
    "tpch_q18",
    "current_pctile",
    "heavy_hitters",
    "drawdown_daily",
    "corr_clusters",
    "attribution",
    "ab_cuped",
    "mm_audio",
    "sessions_capped",
    "pattern_matches",
    "scd2_enrich",
    "fk_orphans",
    "bfs_reach",
    "emd_drift",
    "tpch_q4",
    "tpch_q10",
    "tpch_q14",
    "tpch_q19",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q13",
    "tpch_q15",
    "tpch_q17",
    "tpch_q22",
    "tpch_q2",
    "tpch_q11",
    "tpch_q12",
    "tpch_q16",
    "tpch_q20",
    "tpch_q21",
    "fleet_coverage",
    "edge_similarity",
    "ols_multi",
    "dsir_weights",
    "textrank_keywords",
    "emb_cov",
    "triplet_mining",
    "bitmap_retention",
    "rolling_slope_24h",
    "corr_upsert",
    "mix_weights",
    "markov_entropy",
    "periodogram",
    "fano_factor",
    "cluster_terms",
    "moments",
    "partial_corr",
    "hurst",
    "cusum_fixed",
    "zipf_fit",
    "dedup_cross_source",
    "source_scorecard",
    "assortativity",
    "psi_fixed",
    "heavy_hitters_verified",
    "hill_tail",
    "kcore_events",
    "adamic_adar",
    "cvar_daily",
    "conv_quality",
    "dedup_containment",
    "label_prop",
    "emb_auc",
    "bootstrap_ci",
    "markov_accuracy",
    "stl_anomaly",
    "ndcg_int8",
    "did_readout",
    "rbo_int8",
    "slo_burn",
    "fdr_anomalies",
    "dedup_incremental",
    "dq_sequence",
    "markov_calibration",
    "clustering_coeff",
    "mrr_int8",
    "croston",
    "rate_decomposition",
    "prune_sweep",
    "ar2_forecast",
    "variance_ratio",
    "runs_test",
    "turning_points",
    "allan_variance",
    "page_hinkley",
    "ljung_box",
    "chi2_independence",
    "kruskal_wallis",
    "sign_test_dod",
    "record_counts",
    "engle_granger",
    "transfer_entropy",
    "pacf",
    "l_diversity",
    "category_churn",
    "newey_west",
    "ccc_pairs",
    "corr_deseasonalized",
    "corr_winsorized",
    "rank_churn",
    "allen_census",
    "pair_scorecard",
    "kendall_tau",
    "apdex_hourly",
    "theil_daily",
    "panel_fe",
    "emb_pca",
    "text_readability",
    "isotonic_calibration",
    "capacity_projection",
    "t_closeness",
    "icc_oneway",
    "cronbach_alpha",
    "friedman_test",
    "cohen_kappa",
    "littles_law",
    "mtbf_mttr",
    "p_chart",
    "c_chart",
    "hhi_hourly",
    "atkinson_daily",
    "grubbs_daily",
    "crossing_rate",
    "reciprocity",
    "silhouette",
    "stickiness_daily",
    "lorenz_deciles",
    "odds_ratio_weekend",
    "semivariogram",
    "logrank_weekend",
    "hapax_share",
    "cox_weekend",
    "gumbel_maxima",
    "circadian_phase",
    "lateness_audit",
    "median_survival",
    "kendall_w",
    "harmonic_regression",
    "charset_report",
    "doc_compressibility",
    "spectral_entropy",
    "sprt_readout",
    "distance_corr",
    "energy_distance",
    "brier_decomposition",
    "pettitt_test",
    "welch_t",
    "mann_whitney",
    "wilcoxon_signed",
    "brown_forsythe",
    "fdr_pettitt",
    "chi2_cells",
    "jarque_bera",
    "durbin_watson",
    "effect_sizes",
    "seasonal_mk",
    "dispersion_test",
    "rate_ratio",
    "cohort_ltv",
    "we_rules",
    "char_entropy",
    "tail_dependence",
    "coburst_jaccard",
    "hod_quantile_bands",
    "permutation_entropy",
    "hjorth_params",
    "complexity_stats",
    "rsi_cutler",
    "bollinger_daily",
    "stochastic_k",
    "range_volatility",
    "wavelet_variance",
    "lomb_scargle",
    "matrix_profile",
    "gpd_tail",
    "hits_events",
    "kalman_level",
    "cross_coherence",
    "dfa_fluctuation",
    "erlang_staffing",
    "code_likeness",
    "emb_mmd",
    "boilerplate_ngrams",
    "modularity_lpa",
    "kpss_level",
    "df_unitroot",
    "cdc_snapshot",
    "kmv_overlap",
    "emb_mahalanobis",
    "ipw_strata",
    "theta_forecast",
    "dp_release",
    "streak_report",
    "heaps_fit",
    "theta_backtest",
    # round-3b (this session's additions)
    "mcnemar_wow",
    "cochran_q",
    "cvm_weekend",
    "mood_weekend",
    "arch_lm",
    "segmented_trend",
    "recovery_after_error",
    "trigram_novelty",
    "skyline_users",
    "langid_confusion",
    "counter_rate",
    "histogram_p95",
    "corr_grain_audit",
    "time_to_nth",
    "esd_outliers",
    "gmd_daily",
    "nw_align",
    "sw_align",
    "xcorr_prewhitened",
    "tier_info_loss",
    "logit_fit",
    "isotonic_trend",
    "dow_contrasts",
    "capture_recapture",
    # theil_sen deliberately unbenched: O(n²)-per-day-group bounded-n
    # verification tool, same policy as mann_kendall; sample_entropy
    # likewise (bounded-n template matching — permutation_entropy is
    # its O(n) scale path); lad_trend likewise (T³ candidate-basis
    # enumeration — trend_daily is the O(T) scale path)
]

# Round-4 additions — HEADLINE and HEADLINE_R3 are now both FROZEN
# (the r02 and r03-close compositions), so per-query and per-cohort
# totals stay comparable across rounds (VERDICT r03 #10).
HEADLINE_R4 = [
    "adf_augmented",
    "ewma_chart",
    "its_readout",
    "lang_temperature",
    "ppr_terms",
    "weibull_fit",
    "huber_trend",
    "ohlc_daily",
    "bland_altman",
    "ess_hourly",
    "minhash_error",
    "burrows_delta",
    "retention_decay",
    "emb_anisotropy",
    "markov_absorption",
    "xmr_chart",
    "process_capability",
    "g_chart",
    "exit_rates",
    "u_chart",
    "forecast_baselines",
]

# Round-5 additions (HEADLINE..R4 all frozen at their round-close
# compositions)
HEADLINE_R5 = [
    "emb_cov_gram",
    "coverage_greedy",
]

# Every benched key sits in exactly one cohort, the round that added it
# (tests/test_query_keys.py); the order is the order of the rounds.
COHORTS = {"r02": HEADLINE, "r03": HEADLINE_R3, "r04": HEADLINE_R4,
           "r05": HEADLINE_R5}


def cohort_totals(timings: dict[str, float]) -> dict[str, float]:
    """`r<n>_additions_total` per cohort after the first, and
    `frozen_r<nn>_total` over that cohort and every earlier one."""
    out: dict[str, float] = {}
    frozen: set[str] = set()
    for i, (rnd, names) in enumerate(COHORTS.items()):
        frozen |= set(names)
        if i:
            added = set(names)
            out[f"r{int(rnd[1:])}_additions_total"] = round(
                sum(t for n, t in timings.items() if n in added), 3)
        out[f"frozen_{rnd}_total"] = round(
            sum(t for n, t in timings.items() if n in frozen), 3)
    return out


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _scale_overrides():
    """Headline bench must measure the SCALE path, not the oracle
    crutch: vocab-mode shingle/token ids need a global-sort row_number
    window (single-partition bottleneck, WindowExec warnings), which
    only exists so DuckDB can replicate ids exactly.  The engine's real
    path hashes ids with xxhash64/crc32 — bench that.  oracle_sql()
    keeps vocab mode, so CORRECTNESS rows are unaffected."""
    from pyspark.sql import functions as F
    from timeseriescorrelation_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_lsh_pairs,
        simhash_pairs,
    )
    from timeseriescorrelation_spark.operators.similarity import (
        ann_topk_bruteforce_np,
    )
    from timeseriescorrelation_spark.operators.lm import dsir_weights
    from timeseriescorrelation_spark.operators.textstats import (
        doc_fingerprints,
    )

    def _docs(spark, sf_dir):
        return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    def _ann_np(spark, sf):
        e = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
        # query side is 5 vectors — the toPandas is the Q side, not the
        # corpus (the corpus streams through mapInPandas Arrow batches)
        qpdf = e.where(F.col("vec_id") < 5).toPandas()
        return ann_topk_bruteforce_np(e, qpdf, k=10)

    from timeseriescorrelation_spark.operators.dedup import (
        minhash_error_audit,
    )

    return {
        "ann_topk": _ann_np,
        "dedup_minhash_lsh": lambda spark, sf: minhash_lsh_pairs(
            _docs(spark, sf), n=3, n_hashes=16, bands=8,
            tau_num=1, tau_den=5, mode="xxhash64",
        ),
        "minhash_error": lambda spark, sf: minhash_error_audit(
            _docs(spark, sf), mode="xxhash64"
        ),
        "dedup_simhash": lambda spark, sf: simhash_pairs(
            _docs(spark, sf), n=3, n_bits=32, max_hamming=6, mode="xxhash64"
        ),
        "doc_fingerprint": lambda spark, sf: doc_fingerprints(
            _docs(spark, sf)
        ),
        # dsir vocab mode carries THREE global-sort vocab windows (the
        # oracle id crutch); xxhash64 is the statistics-identical
        # bucket model with zero global sorts
        "dsir_weights": lambda spark, sf: dsir_weights(
            _docs(spark, sf), target_source="src0", n_buckets=4096,
            mode="xxhash64",
        ),
        "dedup_incremental": lambda spark, sf: incremental_minhash_dedup(
            _docs(spark, sf).where(F.pmod(F.col("doc_id"), F.lit(5)) == 4),
            _docs(spark, sf).where(F.pmod(F.col("doc_id"), F.lit(5)) != 4),
            n=3, n_hashes=16, bands=8, tau_num=1, tau_den=5,
            mode="xxhash64",
        ),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = get_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=max(8, int(cpus)),
        app_name="tsc-bench",
    )

    qs = entrymod.queries()
    qs.update(_scale_overrides())
    timings: dict[str, float] = {}
    # SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the sweep — used by the
    # sf1 stress pass to time the bounded-n/quadratic suspects first
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    only_set = set(only.split(",")) if only else None
    for name in [n for names in COHORTS.values() for n in names]:
        if name not in qs:
            continue
        if only_set is not None and name not in only_set:
            continue
        # SPARK_GRAFT_BENCH_PASSES=1 skips the warm-up and times one
        # pass — for the sf1 stress sweep, where per-query absolute
        # time is the signal (which caps bind super-linearly), not
        # steady-state JIT throughput, and 3x the sweep cost buys
        # nothing.  Default (2 timed + warm-up) is the protocol.
        passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
        df = qs[name](spark, sf_dir)
        if passes > 1:
            _materialize(df)  # warm (plan + shuffle files + caches)
        # min-of-2: single-timed runs punish the heaviest queries with
        # JVM C2 compilation of their codegen (measured: corr_report
        # 22s -> 8.6s -> 6.2s -> 2.4s across identical runs on a fresh
        # JVM); steady state is the number that scales to long-running
        # jobs, first-run JIT is a fixed cost amortized to zero there
        best = float("inf")
        for _ in range(min(passes, 2)):
            t0 = time.perf_counter()
            _materialize(qs[name](spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        **cohort_totals(timings),
        "sf": sf,
        "cpus": int(cpus),
    }
    # Full per-query map goes to a FILE: the single-line form outgrew
    # the driver's stdout tail-capture window at 97 queries (r02's
    # BENCH json came back `parsed: null`), so the LAST stdout line is
    # a compact summary the driver can always parse, and the complete
    # map is a committed artifact.
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    os.makedirs(out_dir, exist_ok=True)
    full_path = os.path.join(out_dir, "bench_full_latest.json")
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    )
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "n_queries": len(timings),
        "sf": sf,
        "cpus": int(cpus),
        "full": "BENCH/bench_full_latest.json",
    }
    entrymod.clear_graph_cache()  # release session-pinned graphs
    spark.stop()
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
