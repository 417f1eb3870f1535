package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #34 — growth split and telemetry interpolation:
  *
  *  - `new_vs_returning_revenue`: daily purchase count + revenue split by
  *    NEW (first-ever event that day) vs RETURNING users — the growth
  *    report `growth_accounting` decomposes actives for, applied to
  *    revenue. One (user) first-day aggregate joins the purchase stream
  *    (user-keyed, AQE co-locates), then one (day, class) aggregate;
  *    integer cents end to end.
  *  - `interpolate_fill`: LINEAR interpolation between a user's purchases
  *    at every interior event (`forward_fill`'s fill upgraded from
  *    step to linear — the telemetry-resampling rule): prev/next anchor
  *    (time, value) from two IGNORE-NULLS frames over ONE (user) window
  *    shuffle, then v0 + Δv·(t−t0)/(t1−t0) in integer division that
  *    truncates toward zero on both engines (Spark `div`, DuckDB's
  *    integer `//`), negative slopes included. Boundary rows degrade to
  *    forward/backward fill, labeled per row.
  */
object Queries62 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "new_vs_returning_revenue" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
      val firstDay = ev.groupBy("user_id")
        .agg(min(expr(s"ts_us div $DayUs")).as("first_day"))
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"),
          round(col("value") * 100).cast("bigint").as("cents"))
        .join(firstDay, Seq("user_id"))
        .groupBy(col("day"),
          when(col("day") === col("first_day"), lit("new"))
            .otherwise(lit("returning")).as("user_class"))
        .agg(count(lit(1)).as("n_purchases"),
          countDistinct(col("user_id")).as("n_buyers"),
          sum("cents").as("revenue_cents"))
        .orderBy("day", "user_class")
    },

    "interpolate_fill" -> { (sp, dir) =>
      val cents = when(col("event_type") === "purchase",
        round(col("value") * 100).cast("bigint"))
      val ord = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val before = ord.rowsBetween(Window.unboundedPreceding, -1)
      val after = ord.rowsBetween(1, Window.unboundedFollowing)
      val ev = Tables.events(sp, dir)
        .withColumn("v", cents)
        .withColumn("t0", last(when(col("v").isNotNull, col("ts_us")), ignoreNulls = true).over(before))
        .withColumn("v0", last(col("v"), ignoreNulls = true).over(before))
        .withColumn("t1", first(when(col("v").isNotNull, col("ts_us")), ignoreNulls = true).over(after))
        .withColumn("v1", first(col("v"), ignoreNulls = true).over(after))
        .withColumn("num", (col("v1") - col("v0")) * (col("ts_us") - col("t0")))
        .withColumn("den", col("t1") - col("t0"))
        .withColumn("adj", expr("num div den"))
      ev.select(col("event_id"), col("user_id"), col("event_type"),
        when(col("v").isNotNull, col("v"))
          .when(col("v0").isNotNull && col("v1").isNotNull, col("v0") + col("adj"))
          .when(col("v0").isNotNull, col("v0"))
          .when(col("v1").isNotNull, col("v1"))
          .as("interp_cents"),
        when(col("v").isNotNull, lit("exact"))
          .when(col("v0").isNotNull && col("v1").isNotNull, lit("interp"))
          .when(col("v0").isNotNull, lit("ffill"))
          .when(col("v1").isNotNull, lit("bfill"))
          .otherwise(lit("none")).as("basis"))
        .orderBy("event_id")
    }
  )

  val oracles: Map[String, String] = Map(
    "new_vs_returning_revenue" ->
      s"""WITH first_day AS (
         |  SELECT user_id, min(epoch_us(ts) // $DayUs) AS first_day
         |  FROM events GROUP BY user_id
         |),
         |p AS (
         |  SELECT e.user_id, epoch_us(e.ts) // $DayUs AS day,
         |    CAST(round(e.value * 100) AS BIGINT) AS cents
         |  FROM events e WHERE e.event_type = 'purchase'
         |)
         |SELECT p.day,
         |  CASE WHEN p.day = f.first_day THEN 'new' ELSE 'returning' END AS user_class,
         |  CAST(count(*) AS BIGINT) AS n_purchases,
         |  CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_buyers,
         |  CAST(sum(p.cents) AS BIGINT) AS revenue_cents
         |FROM p JOIN first_day f ON p.user_id = f.user_id
         |GROUP BY 1, 2 ORDER BY day, user_class""".stripMargin,

    "interpolate_fill" ->
      s"""WITH base AS (
         |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
         |    CASE WHEN event_type = 'purchase'
         |         THEN CAST(round(value * 100) AS BIGINT) END AS v
         |  FROM events
         |),
         |anch AS (
         |  SELECT *,
         |    last_value(CASE WHEN v IS NOT NULL THEN ts_us END IGNORE NULLS) OVER (
         |      PARTITION BY user_id ORDER BY ts_us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t0,
         |    last_value(v IGNORE NULLS) OVER (
         |      PARTITION BY user_id ORDER BY ts_us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS v0,
         |    first_value(CASE WHEN v IS NOT NULL THEN ts_us END IGNORE NULLS) OVER (
         |      PARTITION BY user_id ORDER BY ts_us, event_id
         |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS t1,
         |    first_value(v IGNORE NULLS) OVER (
         |      PARTITION BY user_id ORDER BY ts_us, event_id
         |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS v1
         |  FROM base
         |),
         |calc AS (
         |  SELECT *, (v1 - v0) * (ts_us - t0) AS num, t1 - t0 AS den FROM anch
         |)
         |SELECT event_id, user_id, event_type,
         |  CASE WHEN v IS NOT NULL THEN v
         |       WHEN v0 IS NOT NULL AND v1 IS NOT NULL THEN
         |         v0 + num // den
         |       WHEN v0 IS NOT NULL THEN v0
         |       WHEN v1 IS NOT NULL THEN v1 END AS interp_cents,
         |  CASE WHEN v IS NOT NULL THEN 'exact'
         |       WHEN v0 IS NOT NULL AND v1 IS NOT NULL THEN 'interp'
         |       WHEN v0 IS NOT NULL THEN 'ffill'
         |       WHEN v1 IS NOT NULL THEN 'bfill'
         |       ELSE 'none' END AS basis
         |FROM calc ORDER BY event_id""".stripMargin
  )
}
