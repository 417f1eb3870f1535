package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe bench: times the heaviest queries at the configured SF and at
  * a 10x-unioned copy of the same data, to separate fixed per-plan cost
  * (session, codegen, stage scheduling — constant) from data-proportional
  * cost (what actually extrapolates to a cluster). A query whose x10/x1
  * ratio is near 1 is all fixed cost at this scale; near 10 (or below, from
  * amortized startup) means the runtime is data-dominated and the per-row
  * rate is the number to project.
  *
  * Key remapping, not bare duplication: fact ids (doc_id, vec_id, event_id,
  * orderkey) shift by `i * stride` per copy so dedup/self-join workloads see
  * 10x organic data rather than 10 exact clones of every key (bare
  * duplication would inflate pair counts quadratically and measure a
  * different workload). Dims (region..part, users) stay 1x, so join
  * fan-outs grow the way a real corpus grows.
  *
  * Writes one JSON line to stdout AND scale_probe.json (repo cwd).
  */
object BenchScale {
  // the heaviest queries by BENCH_r05 + PLANS.md audit, one per family,
  // plus the three r6 bench-regression outliers (ua_device_class /
  // thrift_payload_parse / schema_validate) so fixed vs data-proportional
  // cost stays separated for the queries that actually moved
  private val Probes = Seq(
    "dedup_cluster", "dedup_minhash_keep", "para_dedup", "ngram_jaccard",
    "semdedup", "dedup_embedding_keep", "ann_ivf_int8",
    "q21_waiting", "q1_pricing", "ip_geo_lookup_v6", "enrich_pipeline",
    "sessionize", "ua_device_class", "thrift_payload_parse", "schema_validate",
    // round-7: the new CC-backed keeper (same fixed-cost class as
    // dedup_minhash_keep) and the shingle-key novelty window
    "dedup_keep_longest", "ngram_novelty",
    // round-7 continuation: the exploded-token CDC pipeline, the
    // Levenshtein verify (candidate-bounded — its cost must NOT scale with
    // the corpus beyond the pair count), and the end-to-end corpus pipeline
    "cdc_chunk_dedup", "dedup_edit_verify", "corpus_pipeline",
    // round-7 retrieval/graph batch: PageRank's unrolled iterations and the
    // centrality keeper (CC + ranks over one pair set) are the new
    // iterative-shuffle workloads; bm25/boilerplate are the filtered-explode
    // and per-source-df shapes
    "pagerank_dupgraph", "dedup_keep_central", "bm25_topk", "boilerplate_strip",
    // round-8: the two pair-set self-join graph ops (wedge fan-out must stay
    // bounded by the orientation, not grow with corpus size) and the KMV
    // sketch (whose shuffle is capped at k hashes per partition by design)
    "triangle_count", "graph_jaccard", "distinct_kmv",
    // round-8 native-kernel rewrites: the fingerprint-collapsed banded
    // Hamming search and the fused PQ encode — both must stay
    // data-proportional, not plan-cost-dominated
    "simhash_pairs", "ann_pq",
    // round-8 continuation: the checkpoint-cut iterative CC over the
    // identity graph (rounds grow with log diameter, never data), the
    // 30-day fan-out rolling actives (shuffle ∝ 31×user-days), the
    // two-phase prefix-sum sharder, and the in-row BPE merge folds
    "user_stitching", "dau_rolling", "shard_export", "bpe_merge_apply",
    // round-8 continuation #2: the corpus-hygiene self-joins (source- and
    // df-bounded fan-outs must hold at x10) and the one-scan funnel
    "source_overlap", "multimodal_dedup", "filter_funnel",
    // round-8 continuation #3: the contracted incremental clustering (work
    // must track batch edges, not corpus), the SCD2 interval join, and the
    // two corpus-wide token audits
    "dedup_cluster_incremental", "scd2_asof", "vocab_oov_rate", "minhash_recall",
    // round-8 continuation #4: the sweep's three shared-signature
    // self-joins, the PR curve's judged pair set, and the window funnel's
    // user-keyed chain joins
    "minhash_band_sweep", "dedup_pr_curve", "funnel_window_levels",
    // round-8 continuation #5: the cell-keyed CMS build (shuffle capped at
    // d·w per partition by design — must stay flat), the boundary sweep
    // (window over calendar days, not orders), the provenance composition
    // (fingerprint window + CC closure), and the nearest-event join's
    // two-frame user window
    "heavy_hitters_cms", "interval_concurrency", "dedup_provenance",
    "asof_nearest",
    // round-8 continuation #6: the three-policy keeper diff (one shared
    // pair/closure/ranks pass — fixed iterative cost must dominate) and
    // the chunked two-phase prefix max (flat by construction)
    "keeper_policy_diff", "watermark_planner",
    // round-9: the six bench-top-20 queries the r8 probe did not cover —
    // the manifest's double composition, the capped in-cluster purity
    // pairs, the per-cluster size rollup, the order-bounded part pairs,
    // the blocked survivorship merge, and the bucketed negative miner
    "pipeline_manifest", "cluster_purity_audit", "dedup_cluster_sizes",
    "order_part_affinity", "golden_record", "hard_negative_mine",
    // round-9 continuation: the fused enrich-rollup (scan-bound by
    // design), the register-bounded HLL, the three-width Bloom sweep
    // (probe cost ∝ widths × non-members, never corpus²), the one-scan
    // session sweep, and the session-scoped funnel's single exchange
    "revenue_by_geo", "distinct_hll", "bloom_size_tradeoff",
    "session_gap_sweep", "sessionized_funnel",
    // round-9 continuation #2: the full nation-pair grid (two fact
    // shuffles), the half-partitioned ntile scoring + user pivot, the
    // Markov chain build (windows + bounded matrix collect), the
    // token-explode drift report, the three-stage BPE fold chain, the
    // three-layout tagged aggregation, the three-pair-set Venn, the
    // tiered IVF sweep, the broadcast-probe two-stage rerank, the
    // funnel×quintile cross-tab, the per-order group rules (two
    // countDistinct), the quality-scored CC keeper, the 64-way
    // posexplode profile, and the per-supplier double-distinct panel
    "trade_flow_matrix", "segment_migration", "attribution_markov",
    "vocab_drift", "bpe_fertility_curve", "layout_effectiveness",
    "dedup_method_venn", "ann_nprobe_curve", "ann_two_stage",
    "funnel_by_segment", "dq_order_rules", "dedup_keep_quality",
    "embedding_dim_profile", "supplier_scorecard",
    // round-9 continuation #3: the five-model scoreboard composition, the
    // dow-partitioned session percentiles, the HOF-barrier DSIR sampler
    // (the fixed 10x), the assignment-cosine outlier scan, the bounded
    // campaign-pair audience grid, the (part, cust) repeat rollup, and
    // the cohort-partitioned spend quantiles
    "attribution_model_compare", "session_duration_profile",
    "importance_sample", "embedding_outliers", "campaign_audience_overlap",
    "part_reorder_rate", "ltv_quantiles_by_cohort",
    // round-9 batches 31-42: the fixed-round graph iterations (peel/BFS —
    // rounds never grow with data), the three bitmap-aggregate plans
    // (ONE mergeable-partial shuffle each; the overlap grid's ANDs ride
    // on 10 rows), the one-pass integer Gram + its projection, the NB
    // classifier's token-keyed train/score joins, RAKE's two doc-local
    // explodes, the bounded within-order triple fan-out, the KM duration
    // rollup, the adjacent-pair quantization audit, the log-bounded
    // Heaps checkpoints, the bucketed skyline, the ABC×XYZ part rollup,
    // the trained-centroid margin scan, the MI cell table, the DSAR
    // gather, the per-source quota rank, and CUPED's user moments
    "kcore_decomposition", "bfs_hops", "bitmap_distinct",
    "bitmap_overlap_grid", "bitmap_retention", "pca_power_iter",
    "pca_project_outliers", "nb_classifier", "rake_keyphrases",
    "basket_triples", "km_survival", "int8_quant_error", "heaps_law_fit",
    "pareto_frontier", "abc_xyz_class", "cluster_margin_audit", "field_mi",
    "subject_access_export", "quota_sample", "ab_cuped",
    // round-9 batches 45-54: the single-shuffle native sketches (64-byte /
    // k-min partials — must stay flat), the sketch reaggregation, the two
    // signature-compression scoreboards riding operators/PairEngine,
    // the boundary-sweep Little's-law closure, the blocked invoice scan,
    // the ArraySum-Gram isotropy quotient, the day-grain STL/OHLC series,
    // the CC-label modularity rollup, the brand-partitioned boxplot, the
    // 31x-probe multiprobe Hamming search, the token-weighted funnel, the
    // built-in session_window operator, the daily-moments correlation
    // grid, and the 8-round Gonzalez coreset
    "hll_native", "hll_reaggregate", "kmv_native", "kmv_overlap_native",
    "bbit_minhash", "oph_minhash", "littles_law_audit", "dup_invoice_scan",
    "retention_halflife", "embedding_isotropy", "stl_decompose",
    "resample_ohlc", "graph_modularity", "boxplot_report",
    "simhash_multiprobe", "token_mass_funnel", "sessionize_native",
    "session_abandonment", "metric_corr_matrix", "kcenter_coreset",
    // round-9 batches 55-64: the optimizer-rewritten count distinct
    // (must stay the one-shuffle plan), the CC-labelled fold/graph
    // audits, the four-threshold percolation sweep (4 CC runs over
    // shrinking edges), the bitmap assortment grid, the blocked fraud
    // scans, the md5 rebalance table, the quality×dup decile join, the
    // one-scan four-budget packing sweep, the SQL-surface kernels, the
    // PQ code recovery, and the native broadcast interval join (binary
    // search must stay flat vs the bucketed composition)
    "count_distinct_rewrite", "fold_leakage_audit", "bridge_edge_audit",
    "graph_assortativity", "giant_component_sweep", "tail_index_fit",
    "supplier_part_overlap", "return_abuse_scan", "shard_rebalance_audit",
    "shipment_split_profile", "quality_vs_dup_calibration",
    "packing_length_sweep", "anova_platform_value", "quant_bits_sweep",
    "sql_surface_pipeline", "source_lang_mix", "pq_balance_audit",
    "same_day_reorder", "interval_join_native",
    // round-9 batches 65-70: the one-bitmask Shapley aggregation + its
    // coalition table, the decile-ranked uplift join, the suffix-sum
    // log-rank fold, the 10-fold jackknife, the (source, word) hapax
    // rollup, the four-delta power table, the dow band windows, the
    // Fano/chi-square moment rollups, and the bm25-composing nDCG eval
    "shapley_attribution", "channel_set_conversion", "uplift_deciles",
    "logrank_test", "jackknife_mean_ci", "hapax_rate", "ab_power_planner",
    "dow_percentile_bands", "count_model_diagnostics", "dow_mix_stability",
    "ndcg_eval",
    // round-9 batches 71-74: the nation-partitioned CR4 windows, the
    // bit-shift decay ranking, the per-session Levenshtein histogram,
    // the 5×5 stationary fold, the shared-token weighted-Jaccard join,
    // the endings rollup, the dimension-side coverage join, and the
    // click-bucket dose-response
    "cr4_by_nation", "decayed_popularity", "funnel_deviation_profile",
    "markov_stationary", "weighted_jaccard_pairs", "price_point_analysis",
    "catalog_coverage", "touches_vs_conversion",
    // round-11: the last bench-top-20 query missing from the probe set —
    // the full enrichment chain + bounded rollup (expected ≈scan-linear:
    // one codegen'd projection, broadcast dims, crossJoin on totals rows)
    "device_mix_report",
    // round-11 new queries: the two live-lookup joins (egress bounded by
    // distinct keys — must stay FLAT at x10, the key domains don't grow),
    // the bounded-key metadata rollup, and the codec round trip (scan-
    // linear: one compress + one inflate per 20-row blob)
    "sql_query_live", "identity_stitch_live", "metadata_report",
    "payload_decompress",
    // round-12 new queries: the envelope writer + its parse-back (both
    // scan-linear: one to_json / from_json projection, rollup bounded at 4
    // rows) and the remote adapter (egress ∝ distinct bodies — grows with
    // the corpus here because the synthetic bodies are per-event unique,
    // but the per-body work is flat, so expect ≈linear)
    "bad_rows_out", "bad_rows_triage", "adapter_remote",
    // r12 continued: the emitFailed SDJ writer (scan-linear like
    // bad_rows_out) and the ISP range lookup (broadcast dim, ≈scan-linear)
    "failed_events_out", "ip_isp_lookup",
    // the recovery replay: two loader passes + envelope decode, scan-linear
    "bad_rows_resubmit",
    // r12 session-2: the pair-engine ROUGE read (sublinear by the df cap),
    // the fingerprint-df template read, the native top-k + its rewrite
    // (one map-side-combined shuffle, ≈scan-linear), the bounded-series
    // stats (theil_sen / polish / holt-winters — calendar-bounded, expect
    // flat), the candidate-bounded MMR, and the two scan-linear screens
    "rouge_pairs", "template_mass", "topk_native", "topk_rewrite",
    "theil_sen_trend", "median_polish", "holt_winters_forecast",
    "mmr_diversify", "unicode_anomaly_scan", "winsorized_revenue",
    "newsvendor_quantile", "max_drawdown",
    // r12 session-3: the two-sample tests (distinct-value-domain windows —
    // expect sublinear in rows, the domain grows slower than the data), the
    // per-user window screens (scan-linear), the adaptive-cell embedding
    // census pair (cell size is held ~constant by construction — the probe
    // must NOT read quadratic), the calendar-bounded sequential stats
    // (expect flat), and the shingle sweep (scan-linear explode + rollup)
    "ks_two_sample", "mann_whitney", "spearman_rho", "geo_velocity_screen",
    "dbscan_core", "knn_graph_stats", "runs_test", "page_hinkley_drift",
    "hits_scores", "quantile_interp", "rapid_fire_screen", "shingle_k_sweep",
    // r12 session-3 cont.: budget/shard/calibration reads (scan-linear or
    // bounded), the LSH capacity plan (key-shrinking rollup), and the
    // runtime bloom-filter join (fact-scan-linear; the filter makes the
    // SHUFFLE sublinear, not the scan)
    "frontier_budget", "multimodal_shard_plan", "dow_rank_stability",
    "embedding_clip_calibration", "odds_ratio_screen", "device_handoff_matrix",
    "lsh_bucket_histogram", "runtime_filter_join",
    // r12 session-3 cont. #2: the partition-pruned scan (must read ~flat —
    // only Q1 partitions regardless of corpus months growing... months DO
    // grow with the calendar, so expect sublinear-in-rows), the two corpus
    // entropy rollups (token-mass linear), and the cap sweep (bucket-rollup
    // bound, sublinear)
    "dynamic_partition_pruning", "bigram_cond_entropy", "ttr_by_length",
    "lsh_cap_sweep",
    // r12 session-3 cont. #3: the bucketed co-located join (scan-linear,
    // zero join shuffle by layout), the global-rank Lorenz curve (same
    // distinct-domain window class as quantile_interp), and two
    // fingerprint/projection rollups (scan-linear)
    "bucketed_join", "lorenz_deciles", "norm_sensitivity_audit",
    "context_overflow_audit",
    // r12 session-3 cont. #4: the JSON map explode census (scan-linear),
    // the 16-way in-row bit rollup (scan-linear), and the strict-gate MRR
    // (bounded by the bm25 candidate tier)
    "props_key_census", "simhash_bit_bias", "mrr_eval",
    // r12 session-3 cont. #5: the trigram window (scan-linear), two
    // fingerprint rollups (scan-linear), the monthly join rollup
    // (scan-linear), and the cross-source fingerprint pair join (bounded
    // by the distinct-fingerprint table)
    "journey_trigrams", "dedup_source_bias", "lead_time_trend",
    "template_syndication",
    // r12 session-3 cont. #6: the contexts regexp census and the dedup
    // byte-economics rollup (both scan-linear)
    "context_schema_census", "dedup_bytes_saved",
    // r12 session-3 cont. #7: the trained-centroid grid (bounded 28 rows,
    // training cost is the probe target), the 4-gram window (scan-linear),
    // the SLA join rollup (scan-linear), and the triple winnow pass
    // (scan-linear per w)
    "ivf_centroid_overlap", "trigram_conversion", "sla_attainment",
    "winnow_w_sweep",
    // r12 session-3 cont. #8: the privacy-class rollup + DP table (scan-
    // linear / bounded), the part-year index join (key-shrinking), and the
    // label overlay on the adaptive-cell kNN graph
    "t_closeness", "price_index", "knn_label_consistency", "dp_error_planner",
    // r12 session-3 cont. #9: the bench-side containment join (train
    // shingles key-shrink first), the distinct hour census (scan-linear),
    // and the part-level repricing rollup (key-shrinking)
    "benchmark_coverage", "multi_device_hours", "price_stickiness",
    // r12 session-3 cont. #10: the daily-metric rank matrix and the
    // distinct-day gap scan (calendar-bounded) + the supplier census
    // (key-shrinking)
    "spearman_matrix", "single_source_risk", "calendar_gaps",
    // r12 session-3 cont. #11: the entry-session pass (one user-keyed
    // window), the 11-band scan rollup, and the customer-supplier census
    "entry_type_conversion", "discount_return_interaction", "supplier_loyalty",
    // r12 session-3 cont. #12: the in-row numeric fold, the trigram loop
    // filter, and the first-order quintile pass (one global rank window
    // over the customer domain)
    "numeric_density", "pingpong_rate", "first_value_ltv",
    // r12 session-3 cont. #13: three scan-linear rollups (P&L identity,
    // per-source rank cut, per-lang rank percentiles)
    "effective_margin_profile", "length_concentration", "length_by_lang",
    // r13: the calendar-bounded pair/lag stats (expect ~flat — day-pair and
    // lag tables are calendar-sized), the contingency/median tests
    // (value-domain histograms, sublinear), the per-customer gap window
    // (scan-linear), the banded-dedup audits (bucket-bounded joins; the
    // idempotence probe carries a CC whose rounds grow with log diameter),
    // the blocking-cost pre-flight (three key-shrinking rollups), and the
    // position-sliced entropy (10× bounded-token scan)
    "kendall_tau_daily", "rolling_corr", "acf_daily", "lead_lag_xcorr",
    "chi_square_independence", "mood_median_test", "cadence_drift",
    "updown_streaks", "part_intro_rate", "minhash_seed_stability",
    "dedup_idempotence", "cdc_shift_robustness", "candidate_cost_compare",
    "deleted_interpolation", "positional_entropy", "prefix_dup_rate",
    "event_affinity_matrix", "priority_inversion_weeks",
    "mixture_temperature_plan", "dedup_sampling_bias",
    // r13 cont.: calendar/quarter rollups (scan-linear), the vocab-domain
    // sampling plan, the threshold sweep (3× scan), and the rare-token
    // semi-join (df rollup bounds the rare set)
    "month_end_effect", "concentration_trend", "negative_sampling_plan",
    "langid_threshold_sweep", "rare_token_exposure",
    // r13 cont. #2: the two-factor decomposition (three rollups), the
    // weekly SPC rollup (calendar-bounded), the brand EOQ rollup, and the
    // ratio-histogram p99 (value-domain window)
    "two_way_anova", "xbar_r_chart", "eoq_plan", "fertility_outliers",
    // r13 cont. #3: two fingerprint/cohort rollups and the bounded 10x7
    // paradox grid
    "capture_recapture", "survivorship_bias", "simpson_paradox_scan",
    // r14 #1/#2: rank-test and doc-filter rollups (scan-linear), the
    // per-part/per-supplier key rollups, and the two-join wallet share
    "friedman_test", "mcnemar_test", "cramers_v", "cochran_q",
    "dead_stock_scan", "price_ladder", "supplier_lead_variance", "share_of_wallet",
    // r14 #3/#4: calendar-bounded CUSUM windows, nation×month rollups, and
    // the user-partitioned session windows
    "cusum_control", "share_volatility", "promo_halo",
    "entry_exit_pages", "dwell_time_buckets", "page_revisit_rate",
    // r14 #5/#6: the wedge-closure coefficient, the kNN in-degree audit,
    // the 3-chain Lloyd sweep, and the bounded-query recall curve
    "clustering_coefficient", "hubness_audit", "sentence_length_dist",
    "kmeans_elbow", "recall_at_k_curve", "mase_eval",
    // r14 #7/#8: the horizon sweep (3 groupBys), the per-source packing
    // rollup, the LIKE-only license scan, and the enrichment-side audits
    "dedup_horizon_sweep", "packing_contamination", "license_scan",
    "clock_skew_profile", "fingerprint_collision_audit", "anon_ip_risk",
    // r14 #9/#10: balance/return rollups, the dow variance decomposition,
    // the lang-pair dup matrix and the per-user error screen
    "balance_activity_profile", "seasonal_strength", "supplier_return_screen",
    "cross_lang_dups", "quality_filter_venn", "error_impact_screen",
    // r14 #11: the per-brand top-2 weekly join and two bounded clocks
    "brand_cannibalization", "purchase_hour_profile", "weekend_ship_mix",
    // r14 #12/#13: the drift/stump/AUC screens and the two session effects
    "psi_drift", "decision_stump_scan", "auc_quality_vs_dup",
    "first_session_depth_effect", "entry_referer_depth",
    // r14 #14: the bot clock, the attribution rollup, and the full-chain
    // geo PSI composition
    "bot_diurnal_pattern", "clickid_network_share", "geo_mix_drift",
    // r15 completeness sweep: every remaining key whose driver-bench time
    // read >=0.5 s (the driver run is contention-inflated, so this is a
    // SUPERSET of the clean->=0.5 s tail) now carries a x10 probe — the
    // roster covers the whole non-trivial surface, not just one-per-family
    "decontaminate", "join_size_estimate", "containment_dedup",
    "funnel_step_latency", "dedup_bloom", "dedup_minhash_pairs",
    "js_transform", "ivf_balance_audit", "campaign_roi", "ann_trained_recall",
    "traffic_medium_share", "adapter_hubspot", "pair_diff_summary",
    "adapter_mandrill", "decontaminate_embedding", "cross_category_baskets",
    "table_profile", "funnel_counts", "ann_ivf_kmeans", "quality_agreement",
    "incremental_minhash", "dupgraph_degree", "dup_locality", "basket_rules",
    "cluster_keyterms", "pair_review_sample", "equi_depth_hist",
    "ops_dashboard", "adapter_sendgrid", "anomaly_drilldown",
    "embedding_threshold_sweep", "text_repetition", "adapter_pagerduty",
    "audience_overlap_kmv", "corpus_entropy_rate", "ann_ivf_pq",
    "kmv_size_tradeoff", "json_props_extract", "simhash_hamming_hist",
    "ann_int8", "ann_ivf", "adapter_tp2", "collocation_lift",
    "tfidf_topterms", "join_skew_audit", "basket_size_dist", "ann_recall",
    "corpus_filter", "q7_volume", "cardinality_scoreboard",
    "orders_open_aging", "attribution_last_touch", "q9_profit",
    "bloom_fpr_audit", "q8_market_share", "q2_min_cost", "bounce_rate",
    "priority_latency_grid", "path_conversion_rate", "dedup_embedding",
    "enriched_json_out", "shard_size_balance", "bpe_pair_counts",
    "nation_trade_balance", "api_lookup_live", "q4_priority",
    "scd2_compression", "q5_local_supplier", "ordered_funnel",
    "cross_shard_dup_rate", "inverted_index", "skipgram_counts",
    // r15 new keys: the runtime-schema chain (scan-linear), the k-group
    // rank/spread histograms (bounded value domains), the forecast-skill
    // and R/S calendar rollups (flat), the candidate-bounded sketch audit,
    // and the two-detector ensemble keeper (CC-backed, hash-only shuffles)
    "schema_validate_dynamic", "kruskal_wallis", "brown_forsythe_spread",
    "theil_u_forecast", "gini_by_segment", "minhash_estimate_error",
    "dedup_ensemble_keep", "rescaled_range",
    // r15 #4: bounded-histogram EMD / valley screens, the user-keyed
    // eventually-follows pair join, and the raw-moment rollup (scan-linear)
    "emd_price_regions", "bimodality_screen", "eventually_follows_matrix",
    "moment_profile",
    // r15 #5: candidate-bounded pair audits, the cached s-curve aggs, and
    // the UA-cascade drift rollup (scan-linear)
    "lsh_s_curve", "dedup_transitivity_audit", "license_dup_conflicts",
    "ua_version_drift",
    // r15 #6: monthly moment rollup, customer-keyed first/last windows,
    // the NFC audit (scan-linear), and the CC-backed cluster calibration
    "dispersion_trend", "priority_switching", "normalization_impact",
    "cluster_candidate_precision",
    // r15 #7: query-bounded fusion, the session-method audit (one window
    // pass + distinct), semi/anti joins, supplier lag-day histograms
    "rrf_fusion", "sessionization_method_compare", "semi_anti_composition",
    "lead_time_quantiles",
    // r15 #8: calendar/degree/decile histograms (bounded domains) and the
    // sketch first-occurrence rollup (scan-linear)
    "intramonth_uniformity", "tail_dependence_screen", "corpus_novelty_curve",
    "dupgraph_degree_gini",
    // r15 #9: the three-pair-set recall eval, bounded-spread/CLV rollups,
    // and the per-char script presence scan
    "detector_recall_on_labels", "discount_spread_hist", "pareto_nbd_inputs",
    "script_mixing_audit",
    // r15 #10: the 64-way component rollup, the quarterly HHI, and the
    // CC-cluster char-span rollup
    "label_centroid_alignment", "hhi_trend", "cluster_size_span",
    // r15 #11: the vocab-bounded source-pair overlap
    "vocab_overlap_matrix")

  private def scaleBy(df: DataFrame, key: String, copies: Int, stride: Long): DataFrame =
    (0 until copies).map(i => df.withColumn(key, col(key) + lit(i * stride)))
      .reduce(_.unionAll(_))

  /** Materialize a 10x key-remapped copy of the fact tables (dims copied
    * verbatim) under `outDir`, readable by Tables.* like any SF dir. */
  def buildScaled(spark: SparkSession, baseDir: String, outDir: String, copies: Int): Unit = {
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    for (dim <- Seq("region", "nation", "customer", "supplier", "part"))
      write(spark.read.parquet(s"$baseDir/$dim.parquet"), dim)

    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    write(scaleBy(docs, "doc_id", copies, stride(docs, "doc_id")), "documents")
    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    write(scaleBy(emb, "vec_id", copies, stride(emb, "vec_id")), "embeddings")
    // events.ts passes through in whatever encoding the source file uses
    // (BIGINT nanos under nanosAsLong, or µs timestamp); Tables.events
    // normalizes either to ts_us on read
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$baseDir/events.parquet")
    write(scaleBy(ev, "event_id", copies, stride(ev, "event_id")), "events")
    // orders/lineitem share the orderkey remap so the join stays consistent
    val ord = spark.read.parquet(s"$baseDir/orders.parquet")
    val li = spark.read.parquet(s"$baseDir/lineitem.parquet")
    val okStride = stride(ord, "o_orderkey")
    write(scaleBy(ord, "o_orderkey", copies, okStride), "orders")
    write(scaleBy(li, "l_orderkey", copies, okStride), "lineitem")
  }

  private def time(spark: SparkSession, name: String, dir: String): Double = {
    val dt = (0 until 2).map { _ =>
      val t0 = System.nanoTime()
      try graft.SparkEntry.queries(name)(spark, dir).count()
      catch { case _: Throwable => -1L }
      val d = (System.nanoTime() - t0) / 1e9
      graft.util.CacheScope.release(spark)
      spark.catalog.clearCache()
      d
    }.min
    dt
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val scaledDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale10")
    val spark = graft.GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_SCALE_ONLY=a,b re-probes a subset (dev loop; the full
    // run rewrites scale_probe.json, a filtered run prints only)
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSet)
    if (only.isEmpty || !java.nio.file.Files.isDirectory(java.nio.file.Paths.get(scaledDir)))
      buildScaled(spark, baseDir, scaledDir, copies)

    val rows = Probes.filter(n => only.forall(_.contains(n))).map { name =>
      val x1 = time(spark, name, baseDir)
      val x10 = time(spark, name, scaledDir)
      val ratio = if (x1 > 0) x10 / x1 else -1.0
      name -> (x1, x10, ratio)
    }
    val qs = rows.map { case (k, (a, b, r)) =>
      "\"" + k + "\":{" + f""""x1":$a%.3f,"x$copies":$b%.3f,"ratio":$r%.2f}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"scale_probe","unit":"sec","copies":$copies,"queries":$qs,"sf":"$baseDir"}"""
    println(line)
    val path = java.nio.file.Paths.get("scale_probe.json")
    if (only.isEmpty)
      try java.nio.file.Files.writeString(path, line + "\n")
      catch { case _: Throwable => () }
    else
      // a filtered run MERGES its rows into the existing probe file (so a
      // new probe doesn't force re-running all of them), preserving the
      // rest verbatim
      try {
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = m.readTree(java.nio.file.Files.readString(path))
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        val qsNode = root.get("queries").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        rows.foreach { case (k, (a, b, r)) =>
          val row = m.createObjectNode()
          row.put("x1", math.rint(a * 1000) / 1000)
          row.put(s"x$copies", math.rint(b * 1000) / 1000)
          row.put("ratio", math.rint(r * 100) / 100)
          // Jackson's set[T <: JsonNode] infers T = Nothing in Scala → CCE
          qsNode.set[com.fasterxml.jackson.databind.JsonNode](k, row)
        }
        java.nio.file.Files.writeString(path, m.writeValueAsString(root) + "\n")
      } catch { case t: Throwable =>
        System.err.println(s"[benchscale] probe merge failed: ${t.getClass.getName}: ${t.getMessage}")
      }
    spark.stop()
  }
}
