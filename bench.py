#!/usr/bin/env python
"""Benchmark harness: headline engine queries at sf0.1 (driver contract).

Runs a representative slice of the registry — TPC-H-style analytics, the
reference's report queries, windows, dedup, text, similarity — on
``local[$SPARK_GRAFT_CPUS]`` against ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) and prints ONE JSON line::

    {"metric": "...", "value": <total>, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced to full execution with a ``noop``-format write — the
whole plan runs distributed (scan → shuffle → sink) with zero driver
collection, which is the honest cost at cluster scale; ``collect()``
would add a driver bottleneck that a real pipeline doesn't have.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # TPC-H-style analytics (scan → filter → join → agg shapes)
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q7_bination_volume",
    "q8_market_share",
    "q10_returned_items",
    "q13_order_count_distribution",
    "q17_small_quantity_revenue",
    "q18_large_volume_customers",
    "q21_sole_late_supplier",
    "rollup_status_priority",
    # reference parity: the bot report + incremental-load anti-join
    "ref_distributor_report",
    "ref_daily_cumulative_metrics",
    "ref_incremental_antijoin",
    # window / temporal
    "win_running_revenue",
    "win_top3_orders_per_customer",
    "asof_last_order_before_event",
    "agg_price_quantiles",
    "json_props_by_event_type",
    "funnel_signup_to_purchase",
    # LLM-pipeline operators
    "txt_token_stats",
    "txt_quality_score",
    "txt_repetition_profile",
    "txt_pii_scrub",
    "dd_exact_text",
    "dd_minhash_lsh_pairs",
    "dd_simhash",
    "dd_duplicate_clusters",
    "sim_knn_brute",
    "sim_ann_band_lsh",
    "sim_ivf_topk",
    "sim_int8_quant_audit",
    "mm_feature_extract",
    # training-set carving (sampling / packing / decontamination)
    "smp_hash_split",
    "smp_stratified_sample",
    "smp_fixed_k_sample",
    "pack_token_budget",
    "decon_benchmark_ngrams",
    # round-2 additions: dedup endgame, chunking, range join, salted
    # join, SCD2 history build
    "dd_keep_best",
    "pack_chunk_overlap",
    "rng_events_prior_hour",
    "jn_salted_priority_revenue",
    "scd2_customer_status_history",
    # round-2 additions: Lloyd KMeans codebook, cross-source dup matrix,
    # blocked-levenshtein entity resolution
    "sim_kmeans_codebook",
    "dd_cross_source_matrix",
    "dd_fuzzy_part_names",
    # round-2 additions: iterative PageRank, hybrid lexical+semantic
    # dedup, corpus mixture weights, length histogram
    "graph_pagerank_3iter",
    "dd_semantic_confirmed_pairs",
    "smp_mixture_weights",
    "txt_length_histogram",
    # round-2 additions: BFS levels, fused curation pipeline, grouping
    # sets, gap-filled rollup + LOCF time-series
    "graph_bfs_levels",
    "pipe_corpus_curation",
    "gsets_nation_status_revenue",
    "ts_hourly_rollup_gapfill",
    "ts_locf_hourly_value",
    # dd_substring_overlap_pairs is correctness-gated but NOT benched:
    # like txt_winnow_fingerprints it is an audit-class op whose cost is
    # the per-character rolling-hash expression, not a plan property
    # round-3 additions: unigram-LM quality filter, physical-layout
    # maintenance (small-file compaction, Z-order clustering code)
    "txt_unigram_lm_score",
    "ld_compact_small_files",
    "ld_zorder_code",
    "dd_incremental_minhash",
    "flt_bloom_prefilter",
    "dq_constraint_audit",
    "txt_bigram_lm_score",
    "graph_triangle_count",
    "win_cumulative_distinct_users",
    "ts_anomaly_zscore",
    "ld_column_stats",
    "pipe_incremental_curation",
    "jn_bucketed_colocated_revenue",
    "sim_ivf_recall_audit",
    "txt_shingle_novelty",
    "sim_semdedup_prune",
    "smp_deterministic_shuffle",
    "win_activity_islands",
    "dd_minhash_estimate_audit",
    "win_ntile_customer_quartiles",
    "dq_batch_drift_psi",
    "mm_payload_integrity",
    "rng_session_concurrency",
    # round-3 late additions: sketch census, basket mining, cohort
    # retention, seasonality, layout skew audit, pandas UDAF, stream-
    # static enrich
    "sk_countmin_heavy_hitters",
    "jn_basket_brand_pairs",
    "win_cohort_retention",
    "ts_seasonality_index",
    "ld_partition_skew",
    "fn_grouped_means_udaf",
    "strm_static_dim_enrich",
    "smp_weighted_priority_sample",
    "win_rfm_segments",
    "win_customer_spend_quartiles",
    "src_orc_roundtrip",
    "ts_ewma_hourly_value",
    "sim_matryoshka_audit",
    "smp_dsir_importance",
    "graph_link_prediction",
    "dq_iqr_outliers",
    "ld_merge_upsert",
    "txt_zipf_slope",
    "dq_benford_audit",
    "src_csv_roundtrip",
    "win_top_session_paths",
    "sim_pq_audit",
    "ts_changepoint_cusum",
    "agg_gini_concentration",
    "strm_cdc_apply",
    "ts_autocorrelation",
    "agg_hhi_concentration",
    "win_mom_growth",
    "graph_degree_distribution",
    "smp_kfold_assignment",
    "pack_order_fragmentation",
    "txt_burstiness",
    "agg_pareto_8020",
    "win_second_purchase_latency",
    "txt_js_divergence",
    "smp_dedup_aware_split",
    "graph_assortativity",
    "scd2_interval_integrity",
    "smp_balanced_upsample",
    "mm_byte_uniformity",
    "ld_column_histogram",
    "pipe_training_mix_manifest",
    "win_new_vs_returning",
    # round-3 continuation: attribution, engagement, quality-rule census,
    # schema-evolution merge read, DPP scan, cross-fact reconciliation,
    # exact weighted median
    "win_attribution_last_touch",
    "win_dau_mau_stickiness",
    "txt_gopher_rules",
    "src_schema_evolution",
    "ld_partition_pruned_scan",
    "dq_order_total_reconciliation",
    "agg_weighted_median",
    # round-3 continuation: SQL scalar UDFs, raw-log and binary-file
    # ingestion, vocabulary coverage
    "fn_sql_scalar_udf",
    "src_textlines_logparse",
    "src_binaryfile_ingest",
    "txt_oov_rate",
    # round-3 continuation: skew pre-flight, idempotent backfill, and
    # watermark drop semantics. The latter two are staging-dominated
    # (each writes a full staged copy / three stream batches before the
    # measured plan runs) — their bench cost is I/O round-trip, not a
    # plan property.
    "dq_join_key_skew",
    "ld_dynamic_partition_overwrite",
    "strm_watermark_late_drop",
    # round-3 continuation: live-DB federation, interval-union sweep,
    # robust dispersion
    "src_federated_join",
    "ts_interval_union_coverage",
    "agg_median_abs_deviation",
    # round-3 continuation: watermark-driven null emission (two stateful
    # stream stages — cost is the streaming state machinery, not a plan
    # defect)
    "strm_signup_purchase_leftouter",
    "agg_bitmap_distinct_users",
    "src_corrupt_records_quarantine",
    "ts_rolling_regression_slope",
    "smp_time_embargo_split",
    "win_revenue_bridge",
    # staging-dominated (writes two snapshot generations before the
    # measured reads)
    "ld_snapshot_time_travel",
    "dq_inflight_observation",
    "agg_exact_correlation",
    "win_skyline_price_recency",
    "src_python_datasource",
    "strm_python_stream_source",
    "win_markov_transitions",
    "sim_embedding_collapse_audit",
    "txt_novelty_decay_curve",
    "sim_hard_negatives",
    "txt_heaps_law_fit",
    "mm_phash_neardup_pairs",
    # wave 4: retrieval, curriculum, span dedup, rules, k-core, M4
    "graph_kcore",
    "ts_m4_downsample",
    "smp_curriculum_phases",
    "txt_bm25_search",
    "dd_span_dedup_retention",
    "jn_association_rules",
    "txt_kwic_snippets",
    "pack_padding_efficiency",
    "ts_backtest_seasonal_naive",
    "graph_label_propagation",
    "ld_snapshot_diff",
    "agg_cohort_ltv",
    "smp_coreset_kcenter",
    "win_keyset_pagination",
    "pipe_dataset_card",
    "txt_compression_ratio",
    "graph_modularity",
    "sim_ivfpq_search",
    "fn_recursive_cte_chain",
    "dq_drift_ks",
    "ts_linear_interpolation",
    "dq_sentinel_values",
    "txt_tokenizer_fertility",
    "asof_nearest_order_to_event",
    "smp_greedy_set_cover",
    "date_calendar_dim",
    "win_lifecycle_stages",
    "smp_budget_apportionment",
    "pipe_eval_suite_builder",
    "mm_tile_grid",
    "agg_higher_moments",
    "funnel_view_click_purchase",
    "sim_ivf_scaled_cells",
    "agg_winsorized_mean",
    "smp_systematic_resample",
    "win_retention_halflife",
    # round-4 additions: histogram-sketch approx percentile siblings,
    # connected components, KMV distinct sketch, length-grouped batching,
    # semantic decontamination
    "agg_price_quantiles_approx",
    "agg_weighted_median_approx",
    "graph_connected_components",
    "sk_kmv_distinct",
    "pack_length_grouped_batches",
    "decon_semantic_eval_overlap",
    "sim_ivfpq_residual",
    "agg_hll_audit",
    "txt_bpe_merge_census",
    "mm_scene_cut_detect",
    "agg_variance_decomposition",
    "dq_join_cardinality_estimate",
    "smp_temperature_sampling",
    "mm_aspect_bucket_batches",
    "strm_replay_idempotent_load",
    "ld_incremental_agg_maintenance",
    # round-5 waves (post-freeze additions, benched for the r5 record)
    "agg_chi_square_independence",
    "dq_functional_dependency_audit",
    "jn_time_range_join",
    "smp_poisson_bootstrap",
    "dd_containment_pairs",
    "sim_srp_lsh_pairs",
    "sim_ndcg_eval",
    "ts_theil_sen_trend",
    "graph_multi_source_bfs",
    "agg_mann_whitney_u",
    "smp_neyman_allocation",
    "agg_welch_ttest",
    "graph_clustering_coefficient",
    "txt_rake_keyphrases",
    "ts_holt_linear_forecast",
    "dq_table_fingerprint",
    "src_fixed_width_ingest",
    "fn_array_higher_order",
    "ld_zorder_clustering_audit",
    "agg_kruskal_wallis",
    "agg_kendall_tau",
    "agg_cohens_kappa",
    "dq_uniqueness_profile",
    "graph_hits_hubs_authorities",
    "txt_pmi_cooccurrence",
    "smp_horvitz_thompson",
    "ts_seasonal_periodogram",
    "sim_mmr_diversify",
    "agg_fleiss_kappa",
    "smp_bootstrap_ci",
    "graph_personalized_pagerank",
    "agg_permutation_test",
    "graph_cc_pointer_doubling",
    "sim_nndescent_round",
    "txt_cdc_chunks",
    "txt_mattr_diversity",
    "mm_phash_dup_clusters",
    "agg_theil_index",
    "dq_completeness_matrix",
    "dq_referential_integrity_sweep",
    "asof_tolerance_join",
    "agg_spearman_correlation",
    "jn_star_denormalize_fingerprint",
    "ts_ljung_box",
    "agg_benjamini_hochberg",
    "ld_compaction_planning",
    "smp_split_balance_audit",
    "ts_holt_winters_seasonal",
    "ts_kaplan_meier_sessions",
    # round-6 wave 1:
    "pack_crossdoc_attention_mask",
    "decon_eval_contamination_report",
    "mm_audio_energy_segments",
    "mm_video_bitrate_ladder",
    # round-6 wave 2:
    "pack_span_corruption_plan",
    "decon_source_quarantine",
    "mm_caption_pair_stats",
    # round-7 wave (strm_/fn_/src_ thin families):
    "strm_chained_window_rollup",
    "strm_topk_users_complete",
    "strm_session_windows_typed",
    "fn_sql_table_function",
    "src_partition_pruned_scan",
    # round-8 minimal wave (VARIANT shredding + session-path mining):
    "fn_variant_shred",
    "win_event_path_trigrams",
    # round-9 minimal wave (exact-substring decon + UNPIVOT surface):
    "decon_exact_substring_runs",
    "fn_unpivot_measures",
    # round-10 minimal wave (cross-split MinHash decon + LATERAL top-k):
    "decon_minhash_train_eval",
    "fn_lateral_topk_orders",
    # round-11 minimal wave (hash-sample quantile sketch + symmetric
    # burst range join):
    "sk_hash_sample_quantiles",
    "rng_type_burst_neighbors",
    # round-12 wave
    "asof_next_purchase_tolerance",
    "scd2_rebuild_fold_audit",
]

#: Tolerated if absent so bench never breaks mid-build.
OPTIONAL = []

#: Queries that actually consume the shared shingle stage — the trailing
#: no-clearCache block is scoped to exactly these (r12). The block was
#: previously "every dd_* name", which swept in queries like dd_simhash
#: that recompute their own tokenize pipeline and don't touch the
#: snapshot: inside the block their sub-second walls inherited whatever
#: heap/caches the preceding dd_ queries left resident (the driver
#: billed dd_simhash 9.1/13.2 s vs 0.6-1.3 s isolated — VERDICT r11
#: "what's wrong" #2). Non-consumers now get the standard
#: clearCache+GC isolation protocol, so their numbers are deterministic.
SHINGLE_BLOCK = frozenset(
    {
        "dd_shingle_jaccard_pairs",
        "dd_minhash_lsh_pairs",
        "dd_duplicate_clusters",
        "dd_keep_best",
        "dd_lsh_recall_audit",
        "dd_semantic_confirmed_pairs",
        "dd_incremental_minhash",
        "dd_minhash_estimate_audit",
        "dd_containment_pairs",
    }
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from python_sql_etl_project_spark import registry
    from python_sql_etl_project_spark.session import build_spark

    spark = build_spark(app_name="bench", master=f"local[{cpus}]")
    queries = registry.all_queries()

    names = HEADLINE + [n for n in OPTIONAL if n in queries]
    missing = [n for n in names if n not in queries]
    if missing:
        print(f"FATAL: unknown bench queries: {missing}", file=sys.stderr)
        sys.exit(1)

    # warm-up: JVM/codegen/parquet-footer caches + the Python worker pool
    # (mapInPandas spawns workers on first use — infra cost, not plan
    # cost) on the smallest SF so per-query timings measure the plan
    queries["q1_pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    if "mm_feature_extract" in queries:
        queries["mm_feature_extract"](
            spark, "/root/testdata/sf0.001"
        ).write.format("noop").mode("overwrite").save()

    # min-of-N with the raw spread reported: single-shot timings on this
    # box wobble 5-20x under GC/neighbor noise (round-1 vs round-2 bench
    # showed 21.9s vs 1.7s for an identical plan), so each query runs
    # REPEATS times and the headline number is the min — the noise floor
    # is the plan's cost; the spread makes run-to-run comparisons
    # self-evident instead of requiring out-of-band A/B isolation.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))

    # shared stages (opt-out with SPARK_GRAFT_BENCH_SHARED=0): the graph
    # queries open with one co-purchase edge list, modularity scores the
    # labels the LPA query computes (HEADLINE orders it first), the three
    # scale-path ANN queries train one IVF codebook and several dd_
    # queries open with one tokenize→shingle→hot-cap stage. A real batch
    # driver builds each once per corpus snapshot, so the bench installs
    # a session.Snapshots store: the edges and the codebook are built
    # here, the shingles by their first reader or, at the latest, when
    # the trailing dd_ block opens (clearCache is skipped inside the
    # block, so per-query numbers price each query's OWN candidate/verify
    # stages), and every build is timed by the store and reported
    # separately. Correctness rows never see a store — the driver gate
    # runs the cold pipeline.
    share = os.environ.get("SPARK_GRAFT_BENCH_SHARED", "1") == "1"
    shared_stage_sec = None
    shared_edges_sec = None
    shared_codebook_sec = None
    if share:
        from python_sql_etl_project_spark.operators import dedup, graph, similarity
        from python_sql_etl_project_spark.session import Snapshots, read_table

        store = Snapshots(spark)
        graph._copurchase_pairs(spark, sf_dir)
        shared_edges_sec = store.build_seconds(sf_dir, "edges")
        similarity._scaled_codebook(
            read_table(spark, sf_dir, "embeddings"), spark, sf_dir
        )
        shared_codebook_sec = store.build_seconds(sf_dir, "codebook")
        names = [n for n in names if n not in SHINGLE_BLOCK] + [
            n for n in names if n in SHINGLE_BLOCK
        ]

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    jvm_system = spark.sparkContext._jvm.java.lang.System
    in_shared_block = False
    for name in names:
        if share and not in_shared_block and name in SHINGLE_BLOCK:
            # entering the dd_ block: flush everything else, then build
            # the shared shingle stage unless a reader already did (timed
            # by the store either way)
            spark.catalog.clearCache()
            jvm_system.gc()
            dedup.shingles(spark, sf_dir)
            shared_stage_sec = store.build_seconds(sf_dir, "shingles")
            in_shared_block = True
        runs = []
        for _ in range(repeats):
            if in_shared_block:
                jvm_system.gc()
                t0 = time.perf_counter()
                queries[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(round(time.perf_counter() - t0, 3))
                continue
            # isolate runs: blocks persisted by a previous query otherwise
            # occupy the heap and GC-tax later measurements (a query's OWN
            # caching still lands inside its timing). The explicit GC
            # flushes the PREVIOUS run's garbage before the clock starts —
            # without it, sub-second queries measured 10x slower purely
            # from inherited heap debt (1.2s isolated vs 13s in-sequence)
            spark.catalog.clearCache()
            jvm_system.gc()
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(round(time.perf_counter() - t0, 3))
        timings[name] = min(runs)
        spread[name] = runs

    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    total = round(
        sum(timings.values())
        + (shared_stage_sec or 0)
        + (shared_edges_sec or 0)
        + (shared_codebook_sec or 0),
        3,
    )

    # Full per-query mins + raw spreads go to a detail file. Default is
    # the UNTRACKED *.latest.json sibling (gitignored): the driver's
    # per-round bench re-run must leave `git status` clean (round-4
    # verdict minor: it used to rewrite the tracked BENCH_DETAIL.json
    # every external run, leaving a perpetual 600-line dirty diff). The
    # tracked BENCH_DETAIL.json artifact is refreshed DELIBERATELY once
    # per round by copying the latest file and committing.
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_DETAIL.latest.json",
        ),
    )
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "repeats": repeats,
                "spread": spread,
                "shared_shingle_stage_sec": shared_stage_sec,
                "shared_edges_stage_sec": shared_edges_sec,
                "shared_codebook_stage_sec": shared_codebook_sec,
                "sf": sf,
            },
            f,
            indent=1,
            sort_keys=True,
        )

    # bounded flagship subset for the stdout line (driver contract keeps
    # its "queries" map; capping the membership keeps the line ~1 KB)
    flagship = [
        "q1_pricing_summary",
        "q9_profit_by_nation_year",
        "q18_large_volume_customers",
        "ref_distributor_report",
        "ref_incremental_antijoin",
        "win_trailing_7d_revenue" if "win_trailing_7d_revenue" in timings else "win_running_revenue",
        "dd_minhash_lsh_pairs",
        "sim_ivfpq_search",
        "txt_bm25_search",
        "graph_kcore",
        "strm_cdc_apply",
        "mm_feature_extract",
        "smp_hash_split",
        "fn_recursive_cte_chain",
    ]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                # total includes the shared-stage build so the headline
                # number never hides amortized work
                "value": total,
                "unit": "sec",
                "queries": {n: timings[n] for n in flagship if n in timings},
                "n_queries": len(timings),
                "repeats": repeats,
                "shared_shingle_stage_sec": shared_stage_sec,
                "shared_edges_stage_sec": shared_edges_sec,
                "shared_codebook_stage_sec": shared_codebook_sec,
                "detail": "BENCH_DETAIL.latest.json",
                "sf": sf,
            },
            sort_keys=True,
        )
    )


if __name__ == "__main__":
    main()
