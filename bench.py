"""Benchmark harness: runs EVERY registered query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints two JSON lines:

  1. {"queries": {name: sec, ...}, "sf": ...}   — full per-query map
  2. {"metric": "headline_queries_wall_time", "value": total_sec,
      "unit": "sec", "n_queries": N, "headline_sec": ...,
      "queries": {<flagships only>}, "sf": ...}  — compact summary

The SUMMARY is the LAST line and stays small on purpose: round 2's
single 179-query JSON line overflowed the driver's tail buffer
(BENCH_r02.json `parsed: null`), losing the machine-readable record.
Driver tails keep the end, so the parseable line goes last and the
big map goes on its own earlier line; a FULL per-query record is
also written to BENCH_DETAIL_r{N}.json at the repo root (committed,
so per-query regression diffing never depends on the truncated
tail). `headline_sec` keeps the round-over-round comparable subtotal
(HEADLINE below = the 179 queries benched in round 2).

Execution is forced with a noop-format write (full pipeline runs,
nothing materializes driver-side), after a warm-up query that absorbs
JVM/codegen startup so numbers measure the plans, not the JIT.

Noise posture (this host shows multi-minute hypervisor CPU-steal
windows): min-of-2 per query, an ADAPTIVE third sample whenever the
two samples disagree by >1.3x, and a recurring q1_wordcount
calibration probe whose median/min pair is recorded in both output
records. Round-10: the run ACTS on its own probe — when median/min
> 1.3 (a hot window), queries that regressed >1.5x vs the last
committed record get one extra sample before the record is written,
and the record is stamped `hot_window` either way (VERDICT r9
item 4: a hot 32-core window became round 9's comparison baseline).

Each detail record is stamped with `cpus`, `sf` and `git_sha`; "the
last committed record" below always means the newest one taken at the
same core count and scale factor."""

from __future__ import annotations

import json
import os
import sys
import time

import __spark_entry__ as contract
from stream_processing_system_spark.session import get_spark

#: Headline set: reference parity + the heaviest analytics + one of
#: each pipeline family (dedup / similarity / text).
HEADLINE = [
    "q1_wordcount",
    "q2_top_users",
    "q3_host_report",
    "pricing_summary",
    "revenue_by_nation",
    "top_unshipped_orders",
    "order_priority_counts",
    "supplier_rank_in_nation",
    "sessionize_events",
    "json_props_stats",
    "dedup_exact",
    "minhash_signatures",
    "dedup_minhash_lsh",
    "simhash",
    "cosine_topk",
    "lsh_topk",
    "knn_join_lsh",
    "dedup_transitive",
    "dedup_incremental",
    "ivf_index_topk",
    "media_decode_stats",
    "doc_stats",
    "doc_winnow",
    # round-2 additions (PERFORMANCE.md keeps the 23-query subtotal
    # comparable across rounds)
    "volume_shipping",
    "market_share",
    "large_volume_customers",
    "late_supplier_orders",
    "pq_topk",
    "copurchase_pagerank",
    "doc_bpe_pair_counts",
    "doc_bm25_search",
    "doc_lm_score",
    "zorder_events_scan",
    "lineitem_measures_unpivot",
    "approx_value_percentiles",
    # round-2 late additions: TPC-H matrix completion + curation ops
    "min_cost_supplier",
    "product_profit",
    "peak_concurrency",
    "doc_token_chi2",
    "doc_pmi_collocations",
    "doc_budget_select",
    "doc_priority_sample",
    "copurchased_part_pairs",
    "event_transitions",
    "bucketed_revenue_join",
    "partitioned_events_scan",
    "embedding_dim_stats",
    "doc_skipgram_pairs",
    "events_drift_chi2",
    "events_ohlc_daily",
    # round-2 closing additions
    "brand_revenue_bloom",
    "doc_domain_cap",
    "events_ewma_daily",
    "doc_inverted_index",
    "events_rolling_median",
    "customer_rfm_segments",
    "orders_cdc_merge",
    "events_cusum_changepoint",
    "copurchase_bfs_hops",
    "events_pattern_search",
    "events_props_variant",
    "doc_blocklist_filter",
    "schema_evolution_scan",
    "format_roundtrip_scan",
    "doc_skipgram_negatives",
    "doc_ngram_diversity",
    "doc_corpus_card",
    "brand_revenue_pareto",
    # round-2 second-session additions (new operator families)
    "kmv_user_overlap",
    "user_geo_neighbor_pairs",
    "incremental_revenue_maintenance",
    "event_sequence_motifs",
    "value_trend_by_type",
    "doc_hybrid_rrf_search",
    "dedup_canonical",
    "events_downsample_ltob",
    "purchase_next_click_asof",
    "events_anomaly_mad",
    "doc_zipf_fit",
    "media_ahash_neardup",
    "embedding_hard_negatives",
    "session_incident_overlap",
    "embedding_pca_top",
    "supplier_scd2_commission",
    "embedding_kmeans_clusters",
    "orders_quality_checks",
    "ab_test_purchase_value",
    "supplier_skyline",
    "doc_rake_keyphrases",
    "media_video_neardup",
    # round-2 third-session additions
    "copurchase_communities",
    "copurchase_kcore",
    "events_acf",
    "events_burstiness",
    "customer_record_linkage",
    "event_type_stationary",
    "doc_token_entropy",
    "doc_greedy_coverage",
    "part_association_rules",
    "user_activity_streaks",
    "nation_supplier_hhi",
    "cumulative_unique_users",
    "events_type_corr",
    "events_psi_drift",
    "revenue_theilsen_trend",
    "orders_kendall_tau",
    "weighted_median_part_size",
    "rolling_7d_distinct_users",
    "fulfillment_latency_monthly",
    "embedding_mmr_rerank",
    "copurchase_cheapest_path",
    "part_hierarchy_rollup",
    "linear_attribution",
    "brand_return_shrinkage",
    "events_dow_anova",
    "events_runs_test",
    "media_audio_energy",
    "dedup_banding_recall",
    "dedup_banding_sweep",
    "supplier_window_matrix",
    "doc_pad_waste",
    "doc_lang_source_cramers_v",
    "cohort_ltv_curve",
    "events_type_jsd",
    "user_bot_scores",
    "value_percentiles_disc",
    "jsonl_corrupt_scan",
    "orderkey_gap_audit",
    "robust_mean_median_of_means",
    "orders_nested_rollup",
    "filtered_cosine_topk",
    "copurchase_assortativity",
    "copurchase_components",
    "daily_value_count_spearman",
    "weighted_jaccard_pairs",
    "consistent_hash_reshard",
    # round-2 fourth-session additions
    "events_stl_strength",
    "events_ccf_lag",
    "fk_integrity_audit",
    "event_transition_entropy",
    "copurchase_adamic_adar",
    "customer_mahalanobis_outliers",
    "lineitem_ols_2var",
    "part_price_elasticity",
    "user_gap_survival",
    "doc_textrank_keywords",
    "ivfpq_topk",
    "user_geo_dbscan",
    "events_granger_lite",
    "ivm_join_delta",
    "events_ks_test",
    "events_mannwhitney_u",
    "events_periodogram",
    "customer_decile_migration",
    "part_abc_xyz",
    "doc_heaps_law",
    "ann_recall_curve",
    "embedding_silhouette",
    "orders_backlog_timeline",
    "markov_holdout_perplexity",
    "events_poisson_glm",
    "customer_part_als",
    "events_kde_density",
    "join_skew_report",
    "part_triple_itemsets",
    "part_demand_croston",
    "events_binseg_changepoint",
    "orders_duplicate_payments",
    "revenue_poisson_bootstrap_ci",
    "doc_tokenizer_fertility",
    "supplier_delivery_otif",
    "revenue_conformal_interval",
    "feature_standardize_split",
    "media_audio_silence",
    "lineitem_logit_return",
    "doc_nb_lang_classifier",
    "lineitem_gbm_stumps",
    "ab_cuped_adjustment",
    "nation_revenue_yoy",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _latest_detail(repo_root: str, cpus: int, sf):
    """Most recent committed BENCH_DETAIL_r{N}.json taken at the same
    core count and scale factor, or None. Records without a `cpus`
    stamp never match: an 8-core record is no baseline for a 32-core
    run."""
    import re

    numbered = sorted(
        (int(m.group(1)), f)
        for f in os.listdir(repo_root)
        if (m := re.match(r"BENCH_DETAIL_r(\d+)\.json$", f))
    )
    for _, f in reversed(numbered):
        with open(os.path.join(repo_root, f)) as fh:
            rec = json.load(fh)
        if rec.get("cpus") == cpus and rec.get("sf") == sf:
            return rec
    return None


def _git_sha(repo_root: str):
    """HEAD commit of the checkout being benched, or None outside git."""
    import subprocess

    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=repo_root,
            capture_output=True, text=True, check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def _round_number(repo_root: str) -> int:
    """Current build round = 1 + the highest BENCH_r{N}.json the
    driver has recorded so far (bench runs before the driver writes
    this round's file)."""
    import re

    ns = [
        int(m.group(1))
        for f in os.listdir(repo_root)
        if (m := re.match(r"BENCH_r(\d+)\.json$", f))
    ]
    return (max(ns) + 1) if ns else 1


def _write_detail(repo_root: str, payload: dict) -> str:
    """Commit-able full per-query record (BENCH_DETAIL_r{N}.json, one
    timing per line): the driver's tail buffer holds only ~2000
    chars, which truncates the 300+-entry per-query stdout line
    (BENCH_r02.json `parsed: null`), so round-over-round per-query
    regression diffing reads this file instead of the tail."""
    path = os.path.join(
        repo_root, f"BENCH_DETAIL_r{_round_number(repo_root):02d}.json"
    )
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1)
        fh.write("\n")
    return path


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    spark = get_spark(app_name="bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    queries = contract.queries()

    arg_names = sys.argv[1:]
    # Default: every registered query — HEADLINE first (the
    # round-2-comparable subset), then everything else in
    # registration order (round-3 ask: no unbenched queries).
    names = arg_names or (
        HEADLINE + [n for n in queries if n not in set(HEADLINE)]
    )

    repo_root = os.path.dirname(os.path.abspath(__file__))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    prev = _latest_detail(repo_root, cpus, sf_val) or {}
    prev_timings_all = prev.get("queries", {})
    force(queries["pricing_summary"](spark, sf_dir))  # warm-up
    # The persisted IVF index is built once per process (train +
    # assign + partitioned write — the vector-DB-load analogue);
    # building here makes the timed ivf_index_topk below measure
    # QUERY latency. The build cost is reported separately.
    t0 = time.perf_counter()
    force(queries["ivf_index_topk"](spark, sf_dir))
    ivf_build = round(time.perf_counter() - t0, 3)
    # Same split for PQ: codebook training is cached per process, so
    # this first call pays train + plan codegen once and the timed
    # passes below measure the ADC scan + re-rank (the repeated op).
    t0 = time.perf_counter()
    force(queries["pq_topk"](spark, sf_dir))
    pq_build = round(time.perf_counter() - t0, 3)

    # Each query is timed twice and the MIN is reported: this host
    # shows hypervisor CPU-steal bursts (vmstat st spikes) that can
    # land a one-off 20-30 s stall on whichever query is running.
    # min-of-2 measures the plan, not the noisy neighbor. When the
    # two samples DISAGREE (>1.3x apart and the min is non-trivial),
    # a burst likely straddled both, so a third sample adjudicates —
    # round 7's driver record showed individual rows up to 7.9x on
    # plan-byte-unchanged queries, which min-of-2 alone let through.
    def sample(name: str) -> float:
        t0 = time.perf_counter()
        force(queries[name](spark, sf_dir))
        return time.perf_counter() - t0

    # Calibration probe: a fixed cheap query re-timed throughout the
    # run. Its MEDIAN vs its MIN is the run's ambient-inflation
    # factor — recorded in the detail file and summary so a hot run
    # is self-evident (and normalizable) without re-measuring.
    CALIBRATE_EVERY = 25
    calibration: list[float] = []

    timings: dict[str, float] = {}
    for i, name in enumerate(names):
        if i % CALIBRATE_EVERY == 0:
            calibration.append(round(sample("q1_wordcount"), 3))
        a, b = sample(name), sample(name)
        best = min(a, b)
        if best > 0.2 and max(a, b) > 1.3 * best:
            best = min(best, sample(name))
        timings[name] = round(best, 3)
    n_measured = len(timings)
    calibration.append(round(sample("q1_wordcount"), 3))
    cal_sorted = sorted(calibration)
    cal_median = round(cal_sorted[len(cal_sorted) // 2], 3)
    cal_min = cal_sorted[0]
    # Act on the calibration probe (VERDICT r9 item 4): a median/min
    # ratio > 1.3 certifies a hot window — ambient contention, not
    # plan changes, inflated some samples. Re-sample once any query
    # that regressed > 1.5x vs the last committed record and keep the
    # min; stamp the record either way so a hot-window run can never
    # silently become a round's comparison baseline.
    hot_window = cal_min > 0 and cal_median > 1.3 * cal_min
    resampled: list[str] = []
    if hot_window:
        for name in list(timings):
            prev_t = prev_timings_all.get(name)
            if prev_t and timings[name] > 1.5 * prev_t:
                timings[name] = round(min(timings[name], sample(name)), 3)
                resampled.append(name)

    headline = set(HEADLINE)
    flagships = [
        "q1_wordcount", "q2_top_users", "q3_host_report",
        "pricing_summary", "dedup_minhash_lsh", "ivf_index_topk",
        "knn_join_lsh", "doc_stats", "simhash", "dedup_transitive",
    ]
    print(json.dumps({"queries": timings, "sf": sf_val}), flush=True)
    if not arg_names:  # full-surface run: persist the record
        _write_detail(
            repo_root,
            {
                "sf": sf_val,
                "cpus": cpus,
                "git_sha": _git_sha(repo_root),
                "n_queries": len(timings),
                "n_measured": n_measured,
                "ivf_index_build_sec": ivf_build,
                "pq_codebook_build_sec": pq_build,
                "calibration_q1_samples": calibration,
                "calibration_q1_median": cal_median,
                "calibration_q1_min": cal_min,
                "hot_window": hot_window,
                "hot_resampled": sorted(resampled),
                "queries": timings,
            },
        )
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_time",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "n_queries": len(timings),
                "n_measured": n_measured,
                "headline_sec": round(
                    sum(v for n, v in timings.items() if n in headline), 3
                ),
                "queries": {
                    n: timings[n] for n in flagships if n in timings
                },
                "ivf_index_build_sec": ivf_build,
                "pq_codebook_build_sec": pq_build,
                "calibration_q1_median": cal_median,
                "calibration_q1_min": cal_min,
                "hot_window": hot_window,
                "sf": sf_val,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
