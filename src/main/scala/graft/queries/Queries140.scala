package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-9 batch #60 — capacity sizing + quality/dup interaction:
  *
  *  - `packing_length_sweep`: the context-window sizing curve — the
  *    sequence-packing bin count, fill rate, and must-chunk-doc count
  *    at max-len 512/1024/2048/4096, from ONE token scan and ONE
  *    prefix-sum window (all four budgets derive their bin id from the
  *    same cumulative sum — the sizing-trilogy pattern of
  *    kmv/bloom/hll_size_tradeoff applied to packing). Longer windows
  *    cut bin overhead but strand more tail fill; docs longer than the
  *    budget are the hard constraint (they must be chunked).
  *  - `quality_vs_dup_calibration`: are low-quality docs likelier to be
  *    near-duplicates? Quality-score deciles (exact global rank over
  *    the bounded per-doc score table) × membership in the minhash
  *    near-dup pair set — the empirical coupling that decides whether
  *    dedup-then-filter and filter-then-dedup differ materially
  *    (`keeper_policy_diff`'s upstream question). */
object Queries140 extends QuerySet {
  private val Budgets = Seq(512L, 1024L, 2048L, 4096L)

  val defs: Map[String, Q] = Map(
    "packing_length_sweep" -> { (sp, dir) =>
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = graft.util.CacheScope.track(Tables.documents(sp, dir)
        .withColumn("n_tokens", TextF.tokenCount(col("text")).cast("bigint"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("source"), col("n_tokens"), col("cum")))
      val rows = Budgets.map { b =>
        cum
          .select(col("source"), col("n_tokens"),
            expr(s"(cum - n_tokens) div $b").as("bin"))
          .groupBy("source").agg(
            (max("bin") + 1).as("src_bins"),
            sum("n_tokens").as("src_tokens"),
            sum(when(col("n_tokens") > b, 1L).otherwise(0L)).as("src_oversize"))
          .agg(sum("src_bins").as("n_bins"), sum("src_tokens").as("total_tokens"),
            sum("src_oversize").as("n_oversize_docs"))
          .select(lit(b).as("max_len"), col("n_bins"), col("total_tokens"),
            expr(s"total_tokens * 1000 div (n_bins * $b)").as("fill_rate_milli"),
            col("n_oversize_docs"))
      }
      rows.reduce(_ unionAll _).orderBy("max_len")
    },

    "quality_vs_dup_calibration" -> { (sp, dir) =>
      val scored = Tables.documents(sp, dir)
        .select(col("doc_id"), Queries15.qualityScore(col("text")).as("score_milli"))
      val members = Queries6.minhashPairs(sp, dir)
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct().withColumn("is_dup", lit(1L))
      // exact global deciles over the bounded per-doc score table
      val w = Window.orderBy(col("score_milli"), col("doc_id"))
      scored
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over())
        .withColumn("decile", expr("(rk - 1) * 10 div n"))
        .join(members, Seq("doc_id"), "left")
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("is_dup"), lit(0L))).as("n_dup"),
          expr("sum(score_milli) div count(1)").as("mean_score_milli"))
        .withColumn("dup_milli", expr("n_dup * 1000 div n_docs"))
        .select("decile", "n_docs", "n_dup", "dup_milli", "mean_score_milli")
        .orderBy("decile")
    }
  )

  val oracles: Map[String, String] = {
    val sweeps = Budgets.map { b =>
      s"""SELECT CAST($b AS BIGINT) AS max_len,
         |  CAST(sum(src_bins) AS BIGINT) AS n_bins,
         |  CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
         |  CAST(sum(src_tokens) * 1000 // (sum(src_bins) * $b) AS BIGINT) AS fill_rate_milli,
         |  CAST(sum(src_oversize) AS BIGINT) AS n_oversize_docs
         |FROM (
         |  SELECT source, max((cum - n_tokens) // $b) + 1 AS src_bins,
         |    sum(n_tokens) AS src_tokens,
         |    sum(CASE WHEN n_tokens > $b THEN 1 ELSE 0 END) AS src_oversize
         |  FROM cum GROUP BY source) s""".stripMargin
    }
    Map(
      "packing_length_sweep" -> {
        val norm = TextF.NormalizeTextSql
        val toks = TextF.TokensSql
        val nTok = s"CASE WHEN $norm = '' THEN 0 ELSE len($toks) END"
        s"""WITH cum AS (
           |  SELECT source, CAST($nTok AS BIGINT) AS n_tokens,
           |    CAST(sum($nTok) OVER (PARTITION BY source ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           |  FROM documents
           |)
           |${sweeps.mkString("\nUNION ALL\n")}
           |ORDER BY max_len""".stripMargin
      },

      "quality_vs_dup_calibration" ->
        s"""WITH ${Queries6.MinhashPairsCteSql},
           |members AS (
           |  SELECT DISTINCT doc_id FROM (
           |    SELECT id_a AS doc_id FROM pairs
           |    UNION ALL SELECT id_b FROM pairs) u
           |),
           |scored AS (
           |  SELECT doc_id, ${Queries15.qualityScoreSql} AS score_milli
           |  FROM documents d
           |),
           |ranked AS (
           |  SELECT doc_id, score_milli,
           |    row_number() OVER (ORDER BY score_milli, doc_id) AS rk,
           |    count(*) OVER () AS n
           |  FROM scored
           |)
           |SELECT (rk - 1) * 10 // n AS decile,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           |  CAST(sum(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 1000 // count(*)
           |    AS BIGINT) AS dup_milli,
           |  CAST(sum(score_milli) // count(*) AS BIGINT) AS mean_score_milli
           |FROM ranked r LEFT JOIN members m ON m.doc_id = r.doc_id
           |GROUP BY 1 ORDER BY decile""".stripMargin
    )
  }
}
