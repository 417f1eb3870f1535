package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-14 batch #7 — training-corpus hygiene:
  *
  *  - `dedup_horizon_sweep`: duplicate-event mass caught at time-bucket
  *    horizons {60 s, 600 s, 3600 s} on the (user, type, amount) identity —
  *    the state-budget planner for `event_dedup_window` (how much dedup
  *    does each watermark actually buy). Three key-shrinking groupBys, no
  *    self-join.
  *  - `packing_contamination`: of `token_packing`'s fixed-budget context
  *    bins, how many splice ≥2 documents together (cross-doc attention
  *    contamination) — per source: bins, multi-doc bins, docs-per-bin.
  *    Inherits token_packing's per-source prefix-sum plan.
  *  - `license_scan`: docs carrying license/copyright markers per source
  *    (`copyright`, `all rights reserved`, `creative commons`/`cc-by`,
  *    `license`) — the redistribution-risk census; one scan, LIKE-only.
  */
object Queries192 extends QuerySet {
  private val Horizons = Seq(60L, 600L, 3600L)
  private val PackBudget = 2048L

  val defs: Map[String, Q] = Map(
    "dedup_horizon_sweep" -> { (sp, dir) =>
      val ev = graft.util.CacheScope.track(
        Synth.withRaw(Tables.events(sp, dir))
          .select(col("user_id"), col("event_type"), col("amount_cents"), col("ts_us")))
      val total = ev.agg(count(lit(1)).as("n_events"))
      Horizons.map { h =>
        ev.groupBy(col("user_id"), col("event_type"), col("amount_cents"),
          expr(s"ts_us div ${h * 1000000L}").as("bucket"))
          .agg(count(lit(1)).as("c"))
          .agg(sum(expr("c - 1")).as("n_dups"))
          .select(lit(h).as("horizon_s"), col("n_dups"))
      }.reduce(_ unionAll _)
        .crossJoin(broadcast(total))
        .select(col("horizon_s"), col("n_dups"),
          expr("n_dups * 1000 div n_events").as("dup_pm"))
        .orderBy("horizon_s")
    },

    "packing_contamination" -> { (sp, dir) =>
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(sp, dir)
        .withColumn("n_tokens", TextF.tokenCount(col("text")).cast("bigint"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("source"), expr(s"(cum - n_tokens) div $PackBudget").as("bin"))
        .groupBy("source", "bin").agg(count(lit(1)).as("docs"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_bins"),
          sum(when(col("docs") > 1, 1L).otherwise(0L)).as("multi_doc_bins"),
          expr("sum(docs) * 1000 div count(1)").as("docs_per_bin_milli"))
        .withColumn("contaminated_pm", expr("multi_doc_bins * 1000 div n_bins"))
        .orderBy("source")
    },

    "license_scan" -> { (sp, dir) =>
      Tables.documents(sp, dir)
        .select(col("source"), lower(col("text")).as("t"))
        .select(col("source"),
          when(col("t").like("%copyright%"), 1L).otherwise(0L).as("c1"),
          when(col("t").like("%all rights reserved%"), 1L).otherwise(0L).as("c2"),
          when(col("t").like("%creative commons%") || col("t").like("%cc-by%"), 1L)
            .otherwise(0L).as("c3"),
          when(col("t").like("%license%"), 1L).otherwise(0L).as("c4"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("c1").as("copyright_docs"), sum("c2").as("rights_docs"),
          sum("c3").as("cc_docs"), sum("c4").as("license_docs"),
          sum(expr("CASE WHEN c1 + c2 + c3 + c4 > 0 THEN 1 ELSE 0 END")).as("any_docs"))
        .withColumn("any_pm", expr("any_docs * 1000 div n_docs"))
        .orderBy("source")
    }
  )

  // ---- DuckDB twins ----

  private val tokCnt = {
    val n = TextF.NormalizeTextSql
    s"CASE WHEN $n = '' THEN 0 ELSE len(string_split($n, ' ')) END"
  }

  val oracles: Map[String, String] = Map(
    "dedup_horizon_sweep" -> Synth.withCte(
      s""", ev AS (
         |  SELECT user_id, event_type, amount_cents, ts_us FROM raw),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_events FROM ev),
         |sweep AS (
         |${Horizons.map { h =>
        s"""  SELECT CAST($h AS BIGINT) AS horizon_s, CAST(sum(c - 1) AS BIGINT) AS n_dups
           |  FROM (SELECT count(*) AS c FROM ev
           |        GROUP BY user_id, event_type, amount_cents, ts_us // ${h * 1000000L}) g""".stripMargin
      }.mkString("\n  UNION ALL\n")}
         |)
         |SELECT horizon_s, n_dups, CAST(n_dups * 1000 // n_events AS BIGINT) AS dup_pm
         |FROM sweep CROSS JOIN tot ORDER BY horizon_s""".stripMargin),

    "packing_contamination" ->
      s"""WITH packed AS (
         |  SELECT source, (cum - n_tokens) // $PackBudget AS bin
         |  FROM (
         |    SELECT source, n_tokens,
         |      sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |    FROM (SELECT doc_id, source, CAST($tokCnt AS BIGINT) AS n_tokens
         |          FROM documents) t0) t1),
         |bins AS (
         |  SELECT source, bin, CAST(count(*) AS BIGINT) AS docs
         |  FROM packed GROUP BY 1, 2)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_bins,
         |  CAST(sum(CASE WHEN docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS multi_doc_bins,
         |  CAST(sum(docs) * 1000 // count(*) AS BIGINT) AS docs_per_bin_milli,
         |  CAST(sum(CASE WHEN docs > 1 THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
         |    AS contaminated_pm
         |FROM bins GROUP BY 1 ORDER BY source""".stripMargin,

    "license_scan" ->
      s"""WITH f AS (
         |  SELECT source,
         |    CASE WHEN lower(text) LIKE '%copyright%' THEN 1 ELSE 0 END AS c1,
         |    CASE WHEN lower(text) LIKE '%all rights reserved%' THEN 1 ELSE 0 END AS c2,
         |    CASE WHEN lower(text) LIKE '%creative commons%'
         |           OR lower(text) LIKE '%cc-by%' THEN 1 ELSE 0 END AS c3,
         |    CASE WHEN lower(text) LIKE '%license%' THEN 1 ELSE 0 END AS c4
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(c1) AS BIGINT) AS copyright_docs,
         |  CAST(sum(c2) AS BIGINT) AS rights_docs,
         |  CAST(sum(c3) AS BIGINT) AS cc_docs,
         |  CAST(sum(c4) AS BIGINT) AS license_docs,
         |  CAST(sum(CASE WHEN c1 + c2 + c3 + c4 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS any_docs,
         |  CAST(sum(CASE WHEN c1 + c2 + c3 + c4 > 0 THEN 1 ELSE 0 END) * 1000 // count(*)
         |    AS BIGINT) AS any_pm
         |FROM f GROUP BY 1 ORDER BY source""".stripMargin
  )
}
