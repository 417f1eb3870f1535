package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #45 — the composed morning dashboard:
  *
  *  - `ops_dashboard`: the one-glance (metric, value) board an on-call
  *    rotation reads first, assembled from the PRODUCTION monitors — event
  *    mass, worst ingest staleness, the experiment's sample-ratio chi²,
  *    the suggested streaming watermark, the corpus exact-dup rate and the
  *    cross-shard dup share — each value computed by the exact relation
  *    its standalone operator runs (defs composed on the Spark side, the
  *    same oracle SQL composed as CTEs on the DuckDB side), so the board
  *    can never disagree with the detail pages behind it. The tall
  *    (metric, value) shape is deliberately union-friendly: adding a
  *    panel is one more single-row relation.
  */
object Queries73 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "ops_dashboard" -> { (sp, dir) =>
      def row(name: String, df: DataFrame, valueCol: String) =
        df.agg(max(col(valueCol)).as("v"))
          .select(lit(name).as("metric"), col("v").cast("long").as("value"))
      val events = Tables.events(sp, dir)
      val total = events.agg(count(lit(1)).as("v"))
        .select(lit("events_total").as("metric"), col("v").as("value"))
      total
        .unionAll(row("max_staleness_min",
          Queries70.defs("data_freshness")(sp, dir), "staleness_min"))
        .unionAll(row("ab_srm_chi2_micro",
          Queries64.defs("ab_srm_check")(sp, dir), "chi2_micro"))
        .unionAll(row("suggested_watermark_min",
          Queries68.defs("watermark_planner")(sp, dir), "suggested_watermark_min"))
        .unionAll(row("corpus_dup_rate_milli",
          Queries57.defs("dataset_card")(sp, dir), "dup_rate_milli"))
        .unionAll(row("cross_shard_dup_milli",
          Queries71.defs("cross_shard_dup_rate")(sp, dir), "cross_shard_milli"))
        .orderBy("metric")
    }
  )

  val oracles: Map[String, String] = Map(
    "ops_dashboard" ->
      s"""WITH fresh AS (
         |${Queries70.oracles("data_freshness")}
         |),
         |srm AS (
         |${Queries64.oracles("ab_srm_check")}
         |),
         |wmp AS (
         |${Queries68.oracles("watermark_planner")}
         |),
         |card AS (
         |${Queries57.oracles("dataset_card")}
         |),
         |xshard AS (
         |${Queries71.oracles("cross_shard_dup_rate")}
         |)
         |SELECT 'events_total' AS metric, CAST(count(*) AS BIGINT) AS value FROM events
         |UNION ALL
         |SELECT 'max_staleness_min', CAST(max(staleness_min) AS BIGINT) FROM fresh
         |UNION ALL
         |SELECT 'ab_srm_chi2_micro', CAST(max(chi2_micro) AS BIGINT) FROM srm
         |UNION ALL
         |SELECT 'suggested_watermark_min', CAST(max(suggested_watermark_min) AS BIGINT)
         |FROM wmp
         |UNION ALL
         |SELECT 'corpus_dup_rate_milli', CAST(max(dup_rate_milli) AS BIGINT) FROM card
         |UNION ALL
         |SELECT 'cross_shard_dup_milli', CAST(max(cross_shard_milli) AS BIGINT)
         |FROM xshard
         |ORDER BY metric""".stripMargin
  )
}
