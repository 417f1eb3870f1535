package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.IntIdioms.nearestRank

/** Round-9 batch #30 — `ltv_quantiles_by_cohort`: the distribution behind
  * `ltv_curve`'s means — per acquisition week (first-purchase week, the
  * retention_cohorts grid), the exact rank-percentile spread of per-user
  * total spend (p50 / p90 / max cents) plus the truncated mean. Skewed
  * cohorts (one whale) look identical to healthy ones in a mean-only
  * read; this table separates them. Two user-key aggregations, then the
  * late_arrival_stats percentile idiom with rank windows PARTITIONED BY
  * COHORT — nothing global at any scale.
  */
object Queries110 extends QuerySet {
  private val WeekUs = 7L * 86400000000L

  val defs: Map[String, Q] = Map(
    "ltv_quantiles_by_cohort" -> { (sp, dir) =>
      val perUser = Tables.events(sp, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), expr(s"ts_us div $WeekUs").as("wk"),
          round(col("value") * 100).cast("bigint").as("cents"))
        .groupBy("user_id")
        .agg(min("wk").as("cohort_wk"), sum("cents").as("spend_cents"))
      val w = Window.partitionBy("cohort_wk").orderBy(col("spend_cents"), col("user_id"))
      val ranked = perUser
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("cohort_wk")))
      ranked.groupBy("cohort_wk")
        .agg(max("n").as("n_users"), nearestRank(50, col("spend_cents")).as("p50_cents"),
          nearestRank(90, col("spend_cents")).as("p90_cents"),
          max("spend_cents").as("max_cents"), sum("spend_cents").as("total_cents"))
        .select(col("cohort_wk"), col("n_users"), col("p50_cents"), col("p90_cents"),
          col("max_cents"), expr("total_cents div n_users").as("mean_cents"))
        .orderBy("cohort_wk")
    }
  )

  val oracles: Map[String, String] = Map(
    "ltv_quantiles_by_cohort" ->
      s"""WITH pu AS (
         |  SELECT user_id, min(epoch_us(ts) // $WeekUs) AS cohort_wk,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS spend_cents
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1
         |), ranked AS (
         |  SELECT cohort_wk, spend_cents,
         |    row_number() OVER (PARTITION BY cohort_wk ORDER BY spend_cents, user_id)
         |      AS rk,
         |    count(*) OVER (PARTITION BY cohort_wk) AS n
         |  FROM pu
         |)
         |SELECT CAST(cohort_wk AS BIGINT) AS cohort_wk,
         |  CAST(max(n) AS BIGINT) AS n_users,
         |  CAST(max(CASE WHEN rk = 1 + (50 * (n - 1)) // 100 THEN spend_cents END)
         |    AS BIGINT) AS p50_cents,
         |  CAST(max(CASE WHEN rk = 1 + (90 * (n - 1)) // 100 THEN spend_cents END)
         |    AS BIGINT) AS p90_cents,
         |  CAST(max(spend_cents) AS BIGINT) AS max_cents,
         |  CAST(sum(spend_cents) // max(n) AS BIGINT) AS mean_cents
         |FROM ranked GROUP BY 1 ORDER BY cohort_wk""".stripMargin
  )
}
