"""Per-round benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line ``{"metric", "value", "unit", "queries", "sf"}``.

Each query runs once per pass through ``measure.run``: forced
end-to-end with the noop sink (full computation, no driver-side
collection cost), its shuffle bytes read by its job group. Timing
excludes session startup and a one-query JVM warmup.

``python bench.py --profile [--passes N] [names]`` prints the full
``measure.run`` record per query per pass instead (default names: the
headline set; scale: ``$SPARK_GRAFT_SF_DIR``).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_seedling_spark import measure  # noqa: E402
from data_seedling_spark.session import build_session  # noqa: E402

#: Headline set: one per major operator family; extended as phases land.
HEADLINE = [
    "flagship_revenue_by_nation",
    "pricing_summary",
    "join_segment_rollup",
    "filter_predicates",
    "salted_hash_ids",
    "merge_insert_apply",
    "distinct_users_by_type",
    "datetime_truncation",
    "window_top_orders_per_segment",
    "sessionize_events",
    "asof_join_purchase_click",
    "tumbling_window_events",
    "sql_api_shipping_priority",
    "recursive_cte_key_rollup",
    "orc_source_partitioned_roundtrip",
    "dedup_exact_documents",
    "minhash_lsh_near_dup",
    "similarity_topk_bruteforce",
    "ivf_ann_topk",
    "text_quality_scores",
    "pseudonymise_customers",
    "feature_extract_documents",
    "train_test_split_hash",
    "sequence_packing_sharded",
    "split_contamination_check",
    "embedding_near_dup_ivf",
    "nation_trade_volume",
    "market_share_by_year",
    "customer_order_distribution",
    "large_volume_customers",
    "waiting_suppliers",
    "kmeans_cluster_assignment",
    "chunk_dedup_documents",
    "domain_mix_documents",
    "pq_ann_topk",
    "global_row_index_documents",
    "domain_quota_sample",
    "unigram_logprob_scores",
    "temperature_mix_documents",
    "interval_join_ship_windows",
    "interpolated_sparse_hourly",
    "funnel_view_click_purchase",
    "pretraining_corpus_pipeline",
    "semantic_dedup_embeddings",
    "chunk_documents_overlap",
    "embedding_int8_quant",
    "pq_codebooks_trained",
    "dsir_importance_weights",
    "char_entropy_documents",
    "multimodal_decode_png",
    "incremental_agg_maintenance",
    "ann_two_stage_rerank",
    "multimodal_decode_jpeg",
    "multimodal_decode_jpeg_progressive",
    "subword_tokenize_greedy",
    "pmi_collocations_top",
    "ivfpq_residual_topk",
    "hll_md5_distinct_oracle_checked",
    "bitmap_distinct_customers",
    "data_quality_audit_orders",
    "theta_sketch_set_ops",
    "incremental_distinct_maintenance",
    "incremental_frequency_maintenance",
    "event_transition_probs",
    "ann_recall_eval",
    "cluster_top_terms_ctfidf",
    "logreg_classifier_train",
    "bpe_train_merges",
    "minhash_md5_lsh_near_dup",
    "simhash_md5_near_dup",
    "span_corruption_t5",
    "mlm_mask_documents",
    "naive_bayes_language_classify",
    "prefix_filter_jaccard_join",
    "mmr_diverse_rerank",
    "hybrid_search_rrf",
    "late_interaction_maxsim",
    "ann_ndcg_eval",
    "attribution_touchpoints",
    "bfs_hops_copurchase",
    "target_encoding_kfold",
    "acf_daily_revenue",
    "variant_shred_props",
    "matryoshka_truncation_audit",
    "calibration_bins_logreg",
    "zorder_region_stats",
    "hilbert_layout_stats",
    "correlation_matrix_lineitem",
    "rfm_customer_segments",
    "bellman_ford_cheapest_route",
    "association_rules_copurchase",
    "ab_test_conversion_ztest",
    "info_gain_token_features",
    "woe_iv_price_deciles",
    "join_key_skew_report",
    "weighted_median_price_by_flag",
    "hash_embed_documents",
    "heldout_perplexity_eval",
    "curation_ensemble_gate",
    "gopher_repetition_gates",
    "markov_next_event_accuracy",
    "top_event_paths",
    "user_behavior_features",
    "rag_chunk_retrieval",
    "psi_distribution_drift",
    "ks_test_drift",
    # r7 additions: KLL rank sketch, TPC-H Q15/Q16/Q20 shapes.
    "kll_quantile_sketch",
    "kll_sketch_merge_shards",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_counts",
    "tpch_q20_excess_inventory",
    # r8: the IVF/PQ/k-means family defaults flipped to adaptive √N
    # sizing (SCALE.md), so the headliners above (ivf_ann_topk,
    # embedding_near_dup_ivf, kmeans_cluster_assignment, pq_*, ann_*,
    # cluster_top_terms_ctfidf, semantic_dedup_embeddings) now bench
    # the adaptive configuration; this pinned-stride twin keeps the
    # old fixed-50 index measured for regression continuity.
    "embedding_near_dup_ivf_stride50",
    # r8 additions: sketch-as-matview percentile maintenance and the
    # weighted / personalized PageRank walks.
    "incremental_quantile_maintenance",
    "pagerank_weighted_copurchase",
    "pagerank_personalized_copurchase",
    # r8 session additions: geospatial family, corpus cleaning /
    # SFT prep / corpus stats, DP release, DFT audio, changepoint,
    # weighted sampling, LATERAL SQL surface.
    "geo_cell_density_customers",
    "spatial_join_supplier_customer",
    "haversine_knn_customers",
    "html_strip_boilerplate",
    "sft_chat_template_render",
    "zipf_rank_fit_tokens",
    "compression_ratio_quality",
    "audio_tone_detect_dft",
    "weighted_sample_without_replacement",
    "cusum_changepoint_orders",
    "burst_detect_hourly_events",
    "dp_noisy_release_nation",
    "lateral_topn_customers_per_nation",
    "inverted_index_postings",
    "collation_case_insensitive_vocab",
    "image_perceptual_hashes",
    "image_ahash_neardup",
    "audio_fingerprint_match",
    "t_closeness_audit",
    "isotonic_calibration_orders",
    "dp_user_level_bounded",
    "xml_source_roundtrip",
    "sql_pipe_syntax_revenue",
    "als_factorization_sweep",
    "event_pattern_regex_cep",
    "kaplan_meier_retention",
    "markov_attribution_removal",
    "poisson_bootstrap_ci",
    "conformal_prediction_interval",
    "cuped_variance_reduction",
    "logreg_grid_search",
    "decision_stump_returns",
    "srm_chisq_assignment",
    "quantile_regression_pinball",
    "bleu_corpus_self_eval",
    "shapley_attribution_channels",
    "bloom_filter_semi_join",
    "decision_tree_depth2_returns",
    "bandit_replay_offpolicy",
    "link_prediction_jaccard",
    "sequential_patterns_prefixspan",
    "diff_in_diff_spend",
    "ktruss_copurchase",
    "logreg_cv_kfold",
    "theil_sen_trend_revenue",
    "phrase_search_positional",
    "dp_randomized_response",
    "permutation_importance_logreg",
    "apriori_triples_census",
    "quantile_treatment_effect",
    "recommender_hitrate_temporal",
    "multiple_testing_bh",
    "wap_publish_pipeline",
    "binary_quantize_hamming_topk",
    "update_cdc_images_roundtrip",
    "ams_f2_sketch",
    "subclassification_ate",
    "hits_bipartite_copurchase",
    "rake_keyword_extraction",
    "raking_ipf_weights",
    "fifo_lot_matching",
    "tpch_q11_important_stock",
    "ams_join_size_estimate",
    "nelson_aalen_hazard",
    "group_sequential_obf",
    "mann_kendall_trend",
    "pettitt_changepoint",
    "logrank_test_survival",
    "seasonal_naive_backtest_mase",
    "price_elasticity_loglog",
    "branch_merge_pipeline",
    "logreg_holdout_prauc",
    # r9 additions: TPC-DS starter shapes, the t-digest twin, NSW graph
    # ANN (rows-only; recall-floored in tests).
    "tpcds_q3_brand_year_sales",
    "tpcds_q7_segment_item_averages",
    "tpcds_q34_ticket_size_buyers",
    "tpcds_q59_wow_revenue",
    "tpcds_q89_category_deviation",
    "tdigest_centroids_orders",
    "tdigest_quantiles_orders",
    "nsw_graph_ann_topk",
    "tpcds_q71_multichannel_revenue",
    "tdigest_merge_shards",
    "tpcds_q88_timeband_counts",
    "tpcds_q77_channel_rollup",
    "tpcds_q51_cumulative_crossover",
    "quantile_drift_tdigest",
    "tpcds_q67_rollup_topn",
    "tpcds_q36_lochierarchy_margin",
    # r10 additions: the bucketed-layout split (build cost measured
    # apart from the join-many payoff; build runs FIRST so the join
    # leg's pass-0 time and shuffle delta never carry the first-use
    # layout build), the t-digest O(changes) refresh, and the two
    # closing TPC-DS paradigms.
    "bucketed_layout_build",
    "bucketed_colocated_join",
    "incremental_tdigest_maintenance",
    "tpcds_q14_cross_channel_sales",
    "tpcds_q64_snapshot_compare",
    "salted_skew_join",
    # r12: the weighted-quantile pair joins the headline set now that
    # the stochastic power-of-two rounding makes them KLL-sketch-cost
    # (the former bit-decomposition path was deliberately kept out —
    # 11.5 s at sf0.1 would have dominated a bench pass).
    "kll_weighted_quantile_revenue",
    "decayed_quantile_order_price",
    # r12: ExactSubstr-style duplicated-span removal (any-alignment
    # sibling of chunk_dedup_documents) and the GPT-3-style 13-gram
    # decontamination report.
    "exact_substring_dedup_documents",
    "ngram_decontamination_check",
    # r13: the CDC-maintained LSH band-row index (VERDICT r12 #1) —
    # protocol-latency-shaped like incremental_quantile_maintenance
    # (three ledger refreshes + the new-vs-all candidate join) — and
    # its embedding-side sibling on the shared mapped-index protocol.
    "minhash_lsh_index_maintenance",
    "incremental_ivf_assign_maintenance",
    # r14: the maintained n-gram decontamination index (VERDICT r13
    # #1) and the GDPR tombstone-path consumer (VERDICT r13 #3) —
    # both protocol-latency-shaped (ledger refreshes + a corpus-scale
    # text/pair stage). streaming_neardup_pair_emission stays out
    # like every streaming query (stream machinery dominates).
    "ngram_decontamination_index_maintenance",
    "lsh_index_gdpr_tombstone_maintenance",
    # r14 late addition: incremental ExactSubstr (trim-batch against
    # the original-text seed index; hash-proves incremental ≡
    # one-shot). Protocol-heavy at sf0.1 (3 trims + 3 ledger commits
    # + 3 index refreshes) — the scaling, not the constant, is the
    # operator's point.
    "exact_substring_incremental_ingest",
]


#: Host-drift calibration (VERDICT r10 #7). Round 10 needed a manual
#: A/B to clear four false time regressions caused by shared-box drift;
#: instead, every bench pass times one FIXED synthetic workload that is
#: independent of the catalog, the testdata, and the scale factor, and
#: the over-bound check scales each recorded bound by this pass's
#: calibration ratio, clamped to ±30% (a real plan regression blows
#: through a 1.3× allowance; host drift historically measured within
#: it). The calibration baseline self-seeds append-only into
#: BASELINE_CALIBRATION.json on the first baseline-sf run per host
#: policy — exactly like the shuffle-bytes ledger. Adjudication policy:
#: BASELINE.md §"Host-drift calibration".
CALIBRATION_CLAMP = 0.30


def calibration_run(spark) -> float:
    """Time the fixed calibration workload: 12M-row synthetic scan →
    sha2 hash (CPU) → 1M-key grouped aggregate (shuffle) → noop sink.
    No parquet, no catalog code — only the host moves this number."""
    from pyspark.sql import functions as F

    t0 = time.time()
    (
        spark.range(0, 12_000_000, 1, 32)
        .select(
            (F.col("id") % 1_000_003).alias("k"),
            F.sha2(F.col("id").cast("string").cast("binary"), 256).alias("h"),
        )
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.max("h").alias("hmax"))
        .write.format("noop").mode("overwrite").save()
    )
    return time.time() - t0


def calibration_text_run(spark) -> float:
    """Time the TEXT calibration workload — the second basket
    component (VERDICT r13 #2): the r13 driver re-run slowed the
    window-explode text queries 1.5× while the scan/sha2/shuffle mix
    above read drift 1.0, because a single-shape calibration is
    uncorrelated with string-allocation/GC/page-cache pressure. This
    workload reproduces that shape synthetically (no parquet, no
    catalog code): build a 40-word string per row from md5s, then the
    sliding-window expansion — split → explode positions → md5 of each
    13-word window → grouped count. Only the host moves this number.
    Bounds scale by the WORST component ratio (each clamped), so a
    session that hits only text shapes now scales text-heavy bounds
    too."""
    from pyspark.sql import functions as F

    t0 = time.time()
    words = [
        F.md5(F.concat(F.col("id").cast("string"), F.lit(f"-{i}")))
        for i in range(40)
    ]
    (
        spark.range(0, 60_000, 1, 32)
        .select(F.split(F.concat_ws(" ", *words), " ").alias("w"))
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(28))).alias("p"), "w"
        )
        .select(
            F.md5(F.array_join(F.slice("w", F.col("p"), 13), " ")).alias("k")
        )
        .groupBy("k")
        .agg(F.count("*").alias("n"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.time() - t0


def drift_ratio(calibration_sec: float, baseline_sec: float | None) -> float:
    """Bound-scaling factor for this pass: calibration time relative to
    its recorded baseline, clamped to [1.0, 1.0 + CALIBRATION_CLAMP].
    1.0 when no baseline exists yet (first run self-seeds).

    One-sided BY DESIGN (r11 ADVICE): bounds scale UP on a slow host
    but never DOWN on a fast one. Every per-query baseline was
    recorded under unknown (possibly loaded) host conditions, while
    the calibration anchor was seeded idle — so a faster-than-anchor
    pass says nothing about how loaded the box was when a given bound
    was seeded, and ratcheting bounds down would reopen the
    false-over-bound channel this feature exists to close."""
    if not baseline_sec or baseline_sec <= 0:
        return 1.0
    return min(
        1.0 + CALIBRATION_CLAMP,
        max(1.0, calibration_sec / baseline_sec),
    )


def profile(names: list[str], passes: int) -> None:
    """`bench.py --profile [--passes N] [names]`: one measure.run record
    per query per pass, as a JSON line. A query that raises prints
    ``{"query", "error"}`` and the run goes on."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session("bench-profile", extra_conf={"spark.ui.enabled": "true"})

    from data_seedling_spark.queries import registry
    from data_seedling_spark.tables import TABLE_NAMES, load_tables, table_path

    reg = registry()
    selected = names or [n for n in HEADLINE if n in reg]
    # Learn every base table's schema before the first record: the
    # first query to load a table would otherwise pay its one-time
    # inference job, and its records would differ from pass to pass.
    load_tables(spark, sf_dir, tuple(
        n for n in TABLE_NAMES if os.path.exists(table_path(sf_dir, n))
    ))
    measure.run(spark, selected[0], sf_dir)  # warmup
    for _pass in range(passes):
        for name in selected:
            try:
                record = {**measure.run(spark, name, sf_dir), "pass": _pass}
            except Exception as e:  # noqa: BLE001 - keep profiling
                record = {"query": name, "error": f"{type(e).__name__}: {e}"[:300]}
            print(json.dumps(record), flush=True)


def main() -> None:
    # Bench the throughput configuration: the Arrow/BLAS kernels are
    # the library default since r9 (similarity.arrow_assign_enabled),
    # but the hash-checked oracle queries pin arrow=False via
    # similarity.oracle_arrow so the driver always verifies the
    # engine-exact fold. DS_SPARK_BENCH_ARROW releases that pin for
    # timing runs only — the same catalog entries are measured on the
    # kernels they'd use in production (agreement vs the fold ≥0.999,
    # tests/test_llm_ops.py). Set here, not at import: the tests import
    # this module and must keep the oracle-pinned fold.
    os.environ.setdefault("DS_SPARK_BENCH_ARROW", "1")
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--profile", action="store_true",
                    help="print one record per query per pass instead")
    ap.add_argument("--passes", type=int, default=1, help="with --profile")
    ap.add_argument("names", nargs="*", help="with --profile (default: HEADLINE)")
    args = ap.parse_args()
    if args.profile:
        profile(args.names, args.passes)
        return
    if args.names or args.passes != 1:
        ap.error("query names and --passes need --profile")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    # Every recorded baseline (BASELINE.md time bounds, BASELINE_SHUFFLE
    # byte volumes) was measured at sf0.1; seeding or comparing at any
    # other sf would corrupt the append-only ledgers / raise false
    # regressions (r9 ADVICE #4). Off-sf runs still time everything —
    # they just neither seed nor judge against the sf0.1 records.
    at_baseline_sf = abs(sf - 0.1) < 1e-9

    from data_seedling_spark.queries import registry

    reg = registry()
    names = [n for n in HEADLINE if n in reg]

    # Every headliner must carry a recorded 2x bound in BASELINE.md —
    # a benched-but-unbounded query makes the regression rule
    # unfalsifiable (VERDICT r8 #1: 15 queries shipped that way).
    # Refuse up front; tests/test_bench_contract.py is the same guard
    # at commit time.
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
    import baseline_bounds

    missing = baseline_bounds.unbounded(names)
    if missing:
        print(
            "bench: refusing to run — headline queries with no 2x bound "
            f"in BASELINE.md: {missing}. Record a best-of-2 baseline row "
            "first (see tools/baseline_bounds.py).",
            file=sys.stderr,
        )
        raise SystemExit(2)
    bounds = baseline_bounds.time_bounds()

    # measure.run reads each query's shuffle bytes from the status
    # REST API, which lives behind the UI.
    spark = build_session("bench", extra_conf={"spark.ui.enabled": "true"})

    # Warm up the JVM / parquet footer caches on a small query.
    if names:
        measure.run(spark, names[0], sf_dir)

    # Steady-state timing: whole-stage codegen compiles on first
    # execution (measured ~7s for the widest generated method), so each
    # query runs twice and reports the better run. The two samples are
    # taken in separate full passes, minutes apart, because host noise
    # on a shared box is time-correlated (the same code measured
    # 3s-14s across a few minutes): back-to-back repeats land in the
    # same noisy window, interleaved passes don't.
    timings: dict[str, float] = {}
    shuffle_bytes: dict[str, int] = {}
    calibration_sec = float("inf")
    calibration_text_sec = float("inf")
    for _pass in range(2):
        # One calibration sample per pass per basket component
        # (best-of-2, same policy as the queries): catalog-independent
        # host-speed probes that the over-bound check scales its
        # bounds by (VERDICT r10 #7; text component VERDICT r13 #2).
        calibration_sec = round(min(calibration_sec, calibration_run(spark)), 3)
        calibration_text_sec = round(
            min(calibration_text_sec, calibration_text_run(spark)), 3
        )
        for name in names:
            record = measure.run(spark, name, sf_dir)
            timings[name] = min(timings.get(name, float("inf")), record["wall_s"])
            if _pass == 0:
                shuffle_bytes[name] = record["shuffle_bytes"]

    # Shuffle-bytes regression rule (VERDICT r8 #6): a plan regression
    # that hides inside the time bound on this 32-core box would not
    # at cluster scale, so shuffle volume is bounded by the same 2x
    # rule against BASELINE_SHUFFLE.json. Bytes are near-deterministic
    # (AQE coalescing jitters partition counts, not volume); a 1 MiB
    # absolute slack mutes rounding noise on tiny queries. Missing
    # entries self-seed (append-only — recorded values never update,
    # exactly like the time baselines in BASELINE.md).
    repo = os.path.dirname(os.path.abspath(__file__))
    shuffle_path = os.path.join(repo, "BASELINE_SHUFFLE.json")
    shuffle_base: dict[str, int] = {}
    if os.path.exists(shuffle_path):
        with open(shuffle_path) as f:
            shuffle_base = json.load(f)
    # A 0 baseline is an unusable sample (async-sampling artifact or a
    # genuinely shuffle-free query measured during noise) — re-seed it
    # rather than bound real volume against 2*0.
    seeded = {
        n: b
        for n, b in shuffle_bytes.items()
        if n not in shuffle_base or (shuffle_base[n] == 0 and b > 0)
    } if at_baseline_sf else {}
    if seeded:
        shuffle_base.update(seeded)
        with open(shuffle_path, "w") as f:
            json.dump(dict(sorted(shuffle_base.items())), f, indent=1)
            f.write("\n")
    slack = 1 << 20
    shuffle_regressions = {
        n: {"bytes": b, "baseline": shuffle_base[n]}
        for n, b in shuffle_bytes.items()
        if n in shuffle_base and n not in seeded
        and b > 2 * shuffle_base[n] + slack
    } if at_baseline_sf else {}
    # Calibration ledger: seed once (append-only), then scale every
    # time bound by this pass's clamped drift ratio so shared-box
    # slowdowns don't read as false per-query regressions (r10 needed
    # a manual A/B for exactly this).
    cal_path = os.path.join(repo, "BASELINE_CALIBRATION.json")
    cal_base: dict[str, float] = {}
    if os.path.exists(cal_path):
        with open(cal_path) as f:
            cal_base = json.load(f)
    seeded_cal = False
    if at_baseline_sf and "calibration_sec" not in cal_base:
        cal_base["calibration_sec"] = calibration_sec
        seeded_cal = True
    if at_baseline_sf and "calibration_text_sec" not in cal_base:
        cal_base["calibration_text_sec"] = calibration_text_sec
        seeded_cal = True
    if seeded_cal:
        with open(cal_path, "w") as f:
            json.dump(cal_base, f, indent=1)
            f.write("\n")
    # Basket drift (VERDICT r13 #2): the WORST per-component ratio,
    # each individually clamped — a session hitting only one shape
    # (e.g. text/GC pressure invisible to the scan/shuffle mix) still
    # scales every bound.
    drift = max(
        drift_ratio(calibration_sec, cal_base.get("calibration_sec")),
        drift_ratio(
            calibration_text_sec, cal_base.get("calibration_text_sec")
        ),
    )
    over_bound = {
        n: {"sec": t, "bound": bounds[n][1],
            "scaled_bound": round(bounds[n][1] * drift, 3)}
        for n, t in timings.items()
        if n in bounds and t > bounds[n][1] * drift
    } if at_baseline_sf else {}

    total = round(sum(timings.values()), 3)
    payload = json.dumps(
        {
            "metric": "headline_queries_total_runtime",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "shuffle_bytes": shuffle_bytes,
            "over_bound": over_bound,
            "shuffle_regressions": shuffle_regressions,
            "baseline_guard_active": at_baseline_sf,
            "calibration_sec": calibration_sec,
            "calibration_baseline_sec": cal_base.get("calibration_sec"),
            "calibration_text_sec": calibration_text_sec,
            "calibration_text_baseline_sec": cal_base.get(
                "calibration_text_sec"
            ),
            "calibration_drift": round(drift, 4),
        }
    )
    # The driver records only a bounded stdout tail, which has truncated
    # the one-line JSON two rounds running (BENCH_r{5,6}.json shipped
    # `parsed: null`). Persist the full payload to a file the driver —
    # and the judge — can lift verbatim, plus the per-round copy the r8
    # verdict asked for (BENCH_r{N}.json, N = latest recorded round + 1,
    # so the judge gets a parseable artifact even if the driver's own
    # stdout-tail record truncates again).
    with open(os.path.join(repo, "BENCH_LAST.json"), "w") as f:
        f.write(payload + "\n")
    # The round being built is PINNED in the repo-root ROUND file
    # (r9 verdict #3: inferring it as max(CORRECTNESS_r*)+1 drifted —
    # the driver's correctness record for a round can land before or
    # after the builder's final bench run, so round 9's artifact filed
    # as BENCH_r10.json). The builder bumps ROUND at round start;
    # tests/test_bench_contract.py asserts it stays ahead of the
    # driver's correctness records. Inference remains the fallback.
    round_path = os.path.join(repo, "ROUND")
    if os.path.exists(round_path):
        with open(round_path) as f:
            rnd = int(f.read().strip())
    else:
        rnd = max(
            (
                int(m.group(1))
                for fn in os.listdir(repo)
                if (m := re.match(r"CORRECTNESS_r(\d+)\.json$", fn))
            ),
            default=0,
        ) + 1
    # The per-round artifact records the sf0.1 contract run only: an
    # off-baseline invocation (SPARK_GRAFT_SF_DIR at another sf) must
    # not overwrite the round's sf0.1 record with off-sf timings (r10
    # ADVICE #1) — those land in a sf-suffixed sibling instead.
    # BENCH_LAST.json above stays unconditional (it is the "most recent
    # run" scratch record, judged via baseline_guard_active).
    suffix = "" if at_baseline_sf else f"_sf{sf}"
    with open(os.path.join(repo, f"BENCH_r{rnd:02d}{suffix}.json"), "w") as f:
        f.write(payload + "\n")
    print(payload)


if __name__ == "__main__":
    main()
