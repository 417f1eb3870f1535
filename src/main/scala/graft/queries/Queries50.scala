package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #22 — growth accounting and the feature-store
  * extract:
  *
  *  - `growth_accounting`: the daily new / retained / resurrected split
  *    (the growth-accounting identity every consumer-product dashboard
  *    decomposes DAU into): per active (user, day), the gap to the user's
  *    previous active day classifies the day — first ever = new, gap ≤ 7 =
  *    retained, gap > 7 = resurrected. One (user) shuffle for the lag,
  *    one day-level aggregate.
  *  - `feature_store_users`: the per-user ML feature extract (what a
  *    feature store materializes for churn/LTV models): tenure, activity
  *    mass and span, event-type mix, revenue — ONE wide row per user from
  *    ONE conditional-aggregate pass over the stream; every feature is an
  *    exact integer so the extract is reproducible bit-for-bit.
  */
object Queries50 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "growth_accounting" -> { (sp, dir) =>
      val ud = Tables.events(sp, dir)
        .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      ud.withColumn("prev_day", lag("day", 1).over(w))
        .withColumn("status",
          when(col("prev_day").isNull, "new")
            .when(col("day") - col("prev_day") <= 7, "retained")
            .otherwise("resurrected"))
        .groupBy("day")
        .agg(
          sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"),
          sum(when(col("status") === "retained", 1L).otherwise(0L)).as("n_retained"),
          sum(when(col("status") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"),
          count(lit(1)).as("dau"))
        .orderBy("day")
    },

    "feature_store_users" -> { (sp, dir) =>
      Tables.events(sp, dir)
        .select(col("user_id"), col("event_type"), col("ts_us"),
          expr(s"ts_us div $DayUs").as("day"),
          round(col("value") * 100).cast("bigint").as("cents"))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct("day").as("n_active_days"),
          (max("day") - min("day") + 1).as("tenure_days"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_views"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_clicks"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
          sum(when(col("event_type") === "purchase", col("cents")).otherwise(0L))
            .as("rev_cents"),
          min("ts_us").as("first_us"), max("ts_us").as("last_us"))
        .orderBy("user_id")
    }
  )

  val oracles: Map[String, String] = Map(
    "growth_accounting" ->
      s"""WITH ud AS (
         |  SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day FROM events
         |),
         |lagged AS (
         |  SELECT day,
         |    lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day
         |  FROM ud
         |)
         |SELECT day,
         |  CAST(sum(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         |  CAST(sum(CASE WHEN prev_day IS NOT NULL AND day - prev_day <= 7
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
         |  CAST(sum(CASE WHEN prev_day IS NOT NULL AND day - prev_day > 7
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
         |  CAST(count(*) AS BIGINT) AS dau
         |FROM lagged GROUP BY day ORDER BY day""".stripMargin,

    "feature_store_users" ->
      s"""SELECT user_id,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(count(DISTINCT epoch_us(ts) // $DayUs) AS BIGINT) AS n_active_days,
         |  max(epoch_us(ts) // $DayUs) - min(epoch_us(ts) // $DayUs) + 1 AS tenure_days,
         |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views,
         |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
         |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_purchases,
         |  CAST(sum(CASE WHEN event_type = 'purchase'
         |    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS rev_cents,
         |  min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
