package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, SparkEntry}

/** Regenerates PLANS.md: the physical plans of the headline queries, as
  * evidence that the shapes promised in SURVEY §5 are the shapes Catalyst
  * actually picks (broadcast joins, pushed filters, codegen spans).
  *
  * Run: `sbt "runMain graft.tools.DumpPlans"`.
  *
  * With arguments it writes before/after evidence for an optimization:
  * `sbt "runMain graft.tools.DumpPlans --out plans/rN --suffix before q1 q2"`
  * writes the formatted physical plan of each named query to
  * `<out>/<query>_<suffix>.txt`, at `SPARK_GRAFT_SF_DIR` (default sf0.1)
  * on `SPARK_GRAFT_CPUS` cores (default 32).
  */
object DumpPlans {
  private val Headline = Seq(
    "enrich_pipeline", "q1_pricing", "q5_local_supplier", "sessionize",
    "ip_geo_lookup", "weather_asof", "weather_asof_bucketed", "dedup_minhash",
    "sim_bruteforce", "salted_agg",
    // round-3 scale-path additions: banded SRP dedup (one exploded band
    // join), narrow IVF assignment (no exchange before the probe join),
    // temporal currency (broadcast (cur, day) dim)
    "dedup_embedding", "ann_ivf", "currency_conversion",
    // round-4: full referer db via the hash-map lookup expression (one
    // codegen'd projection, no join) and the contexts-array validation
    // (bounded literal JSONPath probes, no explode)
    "referer_parse", "contexts_validate",
    // round-5: benchmark decontamination (broadcast bench-shingle probe,
    // corpus never shuffles on the shingle key), the composed corpus
    // filter (one fingerprint-window shuffle, zero joins), and the IPv6
    // split-key geo lookup (broadcast hash join, no fact-side shuffle)
    "decontaminate", "corpus_filter", "ip_geo_lookup_v6",
    // round-5 continuation: cell-scoped embedding dedup (narrow centroid
    // assignment feeding a per-cell self-join) and cross-doc paragraph
    // dedup (window keyed on the paragraph hash, rebuild per doc)
    "semdedup", "para_dedup",
    // the composed resident-index ANN: narrow assignment + broadcast probe
    // over int8 integer dots
    "ann_ivf_int8",
    // round-5 continuation #2: the hardest new TPC-H shapes (Q21's single
    // order-level profile aggregate; Q2's correlated regional min) and the
    // corpus-mix sampler (broadcast thresholds, zero corpus-side shuffle)
    "q21_waiting", "q2_min_cost", "corpus_mix",
    // the recurring-ingest merge: fingerprint anti-join + first-id window,
    // no text in any shuffle
    "incremental_dedup",
    // round-7: Bloom-membership probe (narrow projection against the filter
    // words, no join on the probe side) and embedding decontamination
    // (broadcast benchmark slice, corpus side one scan + partial-agg max)
    "dedup_bloom", "decontaminate_embedding",
    // round-7: the native Catalyst as-of operator — AsOfJoin exec fed by
    // EnsureRequirements' hash exchanges and (key, time) sorts
    "weather_asof_native",
    // round-7 continuation: zero-shuffle winnowing, broadcast-verified
    // edit-distance dedup, the IVF-PQ resident index (cells + codes in one
    // projection), CDC chunking (hash-keyed dedup window), and the native
    // as-of in its second production role (attribution)
    "winnow_fingerprint", "dedup_edit_verify", "ann_ivf_pq",
    "cdc_chunk_dedup", "attribution_last_touch",
    // the corpus-side flagship composition
    "corpus_pipeline",
    // round-7 retrieval/graph batch: BM25's pre-shuffle vocabulary
    // semi-join, the capped posting-list build, one unrolled PageRank
    // round over the cached edge list, and per-source boilerplate df with
    // the broadcast flagged-set rejoin
    "bm25_topk", "inverted_index", "pagerank_dupgraph", "boilerplate_strip",
    // round-8: degree-oriented triangle closure over the cached pair set,
    // the map-side-distinct KMV sketch (shuffle carries ≤ k·partitions
    // hashes), the shuffle-free RAG chunk explode, and the blocked
    // linkage join (candidate space Σ|block|²)
    "triangle_count", "distinct_kmv", "chunk_split", "record_linkage",
    // round-8 continuation: banded Hamming candidates + popcount verify,
    // and the combiner-shaped two-level dedup (two hash aggs, survivors
    // only in the global shuffle)
    "simhash_pairs", "dedup_two_level",
    // round-8 continuation: the two-phase prefix-sum sharder (per-source
    // window + tiny broadcast offsets, no global window), the bounded
    // 30-day fan-out rolling actives, the user-keyed multi-touch credit
    // windows, and the in-row BPE merge folds (no explode, no join)
    "shard_export", "dau_rolling", "attribution_multitouch", "bpe_merge_apply",
    // round-8 continuation #2: the one-scan gate-attrition funnel, the
    // source-bounded shingle-overlap matrix, and frame-signature
    // multimodal dedup (df-capped equi-join, no all-pairs product)
    "filter_funnel", "source_overlap", "multimodal_dedup",
    // round-8 continuation #3: the contracted incremental clustering, the
    // SCD2 point-in-time interval join, and the full-outer referential audit
    "dedup_cluster_incremental", "scd2_asof", "referential_audit",
    // round-8 continuation #4: the Expand-based cube, the running
    // IGNORE-NULLS fill, the CBO histogram's single rank window, and the
    // representative-collapsed cross-dataset stitch
    "cube_report", "forward_fill", "equi_depth_hist", "segment_revenue",
    // round-8 continuation batch
    "heavy_hitters_cms", "interval_concurrency", "churn_hazard",
    "audience_overlap_kmv", "join_size_estimate", "dedup_provenance",
    "asof_nearest", "interpolate_fill", "bloom_fpr_audit", "skipgram_counts",
    "shingle_compression", "keeper_policy_diff", "watermark_planner",
    "span_corruption", "source_scorecard",
    // round-9: the hash-exact integer-micro trained IVF + its recall
    // audit, the exact integer-moment OLS, the one-scan gap sweep, the
    // fused enrich-then-aggregate rollup, the absorbed-replay batch twin,
    // the explicit grouping sets, and the inline()-generated array adapter
    "ann_ivf_kmeans", "ann_trained_recall", "price_elasticity",
    "session_gap_sweep", "revenue_by_geo", "event_dedup_window",
    "grouping_sets_report", "adapter_mandrill",
    // round-9 continuation: the full nation-pair flow grid (two fact
    // shuffles, everything else broadcast), the Markov chain build
    // (windows + bounded matrix collect + literal output), the
    // three-pair-set agreement Venn, the three-layout closed-form
    // pruning audit, the tiered trained-IVF sweep, and the five-model
    // attribution scoreboard composition
    "trade_flow_matrix", "attribution_markov", "dedup_method_venn",
    "layout_effectiveness", "ann_nprobe_curve", "attribution_model_compare",
    // round-9 continuation #2/#3: the native-aggregate single-shuffle
    // plans (bitmap / HLL / KMV), the one-pass ArraySum Gram, the
    // optimizer-rewritten count distinct, the native broadcast interval
    // join, the built-in session_window operator, the multiprobe banded
    // Hamming search, and the Shapley bitmask aggregation
    "bitmap_distinct", "hll_native", "kmv_native", "pca_power_iter",
    "count_distinct_rewrite", "interval_join_native", "sessionize_native",
    "simhash_multiprobe", "shapley_attribution",
    // round-11: the live JDBC lookup — the plan must show ONE bounded
    // distinct-keys exchange feeding the fetch and a BroadcastHashJoin
    // back onto the fact (joins-not-RPC)
    "sql_query_live",
    // round-12: the envelope writer (one interpreted to_json projection over
    // the bad split — no shuffle), its parse-back rollup, and the remote
    // adapter's distinct-bodies → broadcast join-back shape
    "bad_rows_out", "bad_rows_triage", "adapter_remote",
    // r12 session-3: the DPP showcase (dynamicpruning subquery on the
    // partitioned scan), the distinct-domain KS window, and the
    // adaptive-cell DBSCAN census. runtime_filter_join is NOT dumped: its
    // query body checkpoints eagerly (the confs are scoped), so the
    // returned plan is the checkpoint scan — the spec pins might_contain
    "dynamic_partition_pruning", "ks_two_sample", "dbscan_core",
    // r12 close-out (the verdict's stale-PLANS list): the optimizer-rule
    // showcase (Limit-over-Sort must read as ONE TopKRows aggregate, no
    // global sort), the native bounded top-k, the calendar-bounded slope
    // table, the zero-exchange bucketed join, and the distinct-domain
    // Lorenz window
    "topk_rewrite", "topk_native", "theil_sen_trend", "bucketed_join",
    "lorenz_deciles", "holt_winters_forecast",
    // r13: the two de-single-partitioned rewrites (quantile_interp must
    // show per-flag histogram windows + a broadcast position join;
    // spearman_rho the chunkedRank shape), the calendar-bounded pair join,
    // and the blocking-cost pre-flight (three rollups, no pair join)
    "quantile_interp", "spearman_rho", "kendall_tau_daily",
    "candidate_cost_compare", "dedup_idempotence",
    // r14: the exact-CUSUM prefix windows over the bounded day series, the
    // 3-chain integer-micro Lloyd sweep (assignment must stay a narrow
    // literal projection), the wedge-closure coefficient (each edge probed
    // once), the fixed-band price ladder (bounded window partitions), and
    // the session entry/exit double row_number pass
    "cusum_control", "kmeans_elbow", "clustering_coefficient",
    "price_ladder", "entry_exit_pages",
    // r14 close: the value-domain AUC histogram window and the full-chain
    // + sessionizer composition
    "auc_quality_vs_dup", "entry_referer_depth")

  def main(args: Array[String]): Unit = args.toList match {
    case Nil => writePlansMd()
    case "--out" :: out :: "--suffix" :: suffix :: keys if keys.nonEmpty =>
      writeFormatted(out, suffix, keys)
    case _ =>
      throw new IllegalArgumentException(
        "usage: DumpPlans [--out <dir> --suffix <suffix> <query> [query ...]]")
  }

  private def writePlansMd(): Unit = {
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of headline queries (sf0.01, local[8])\n\n")
    sb.append("Generated by `graft.tools.DumpPlans`; regenerate after plan-affecting changes.\n")
    Headline.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      sb.append(s"\n## $name\n\n```\n")
      // keep it readable: drop codegen ids noise, cap long plans
      val lines = plan.linesIterator.take(60).toSeq
      sb.append(lines.mkString("\n"))
      if (plan.linesIterator.size > 60) sb.append("\n... (truncated)")
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }

  private def writeFormatted(out: String, suffix: String, keys: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(out))
    keys.foreach { name =>
      val txt = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
      val path = Paths.get(out, s"${name}_$suffix.txt")
      Files.writeString(path, txt)
      graft.util.CacheScope.release(spark)
      spark.catalog.clearCache()
      println(s"[plandump] wrote $path (${txt.length} chars)")
    }
    spark.stop()
  }
}
