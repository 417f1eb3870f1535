package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #6 — revenue-analytics classics:
  *
  *  - `ltv_curve`: cohort lifetime-value curves — users cohorted by first
  *    purchase day, revenue accumulated by cohort age. Two key-shrinking
  *    shuffles (user → cohort assignment, then (cohort, age) cells) and a
  *    per-cohort cumulative window: everything partitions by cohort, so
  *    cohorts scale out independently.
  *  - `ab_lift`: A/B experiment readout with DETERMINISTIC hash
  *    assignment (md5 split, the industry-standard bucketing — stable
  *    under re-runs and joins, unlike random()): per-arm exposure /
  *    conversion / revenue, absolute and relative conversion lift in
  *    exact milli. One distinct-user aggregate and one single-row
  *    crosstab — nothing here grows with event volume except the first
  *    distinct.
  */
object Queries34 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "ltv_curve" -> { (sp, dir) =>
      val p = Tables.events(sp, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"),
          round(col("value") * 100).cast("bigint").as("cents"))
      val cohorts = p.groupBy("user_id").agg(min("day").as("cohort_day"))
      val cells = p.join(cohorts, Seq("user_id"))
        .select(col("cohort_day"), (col("day") - col("cohort_day")).as("age"),
          col("user_id"), col("cents"))
        .groupBy("cohort_day", "age")
        .agg(countDistinct("user_id").as("n_active"), sum("cents").as("rev_cents"))
      val sizes = cohorts.groupBy("cohort_day").agg(count(lit(1)).as("cohort_users"))
      val wCum = Window.partitionBy("cohort_day").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.join(sizes, Seq("cohort_day"))
        .withColumn("cum_rev_cents", sum("rev_cents").over(wCum))
        .select(col("cohort_day"), col("age"), col("cohort_users"),
          col("n_active"), col("rev_cents"), col("cum_rev_cents"))
        .orderBy("cohort_day", "age")
    },

    "ab_lift" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
      // arm A = md5 first hex digit 0-7 (exact 1/2 split in expectation);
      // assignment is a pure function of user_id — any join re-derives it
      val users = ev.select(col("user_id")).distinct()
        .withColumn("arm_a",
          substring(md5(concat(lit("ab"), col("user_id")).cast("binary")), 1, 1) <= "7")
      val convs = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_purch"), sum(round(col("value") * 100).cast("bigint")).as("cents"))
      users.join(convs, Seq("user_id"), "left")
        .agg(
          sum(when(col("arm_a"), 1L).otherwise(0L)).as("users_a"),
          sum(when(!col("arm_a"), 1L).otherwise(0L)).as("users_b"),
          sum(when(col("arm_a") && col("n_purch").isNotNull, 1L).otherwise(0L)).as("conv_a"),
          sum(when(!col("arm_a") && col("n_purch").isNotNull, 1L).otherwise(0L)).as("conv_b"),
          sum(when(col("arm_a"), coalesce(col("cents"), lit(0L))).otherwise(0L)).as("rev_a_cents"),
          sum(when(!col("arm_a"), coalesce(col("cents"), lit(0L))).otherwise(0L)).as("rev_b_cents"))
        .select(col("users_a"), col("users_b"), col("conv_a"), col("conv_b"),
          col("rev_a_cents"), col("rev_b_cents"),
          expr("(1000 * conv_a) div users_a").as("rate_a_milli"),
          expr("(1000 * conv_b) div users_b").as("rate_b_milli"),
          expr("(1000 * conv_b) div users_b - (1000 * conv_a) div users_a").as("abs_lift_milli"),
          expr("(1000 * conv_b * users_a) div (users_b * conv_a) - 1000").as("rel_lift_milli"))
    }
  )

  val oracles: Map[String, String] = Map(
    "ltv_curve" ->
      s"""WITH p AS (
         |  SELECT user_id, epoch_us(ts) // $DayUs AS day,
         |    CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'
         |),
         |cohorts AS (
         |  SELECT user_id, min(day) AS cohort_day FROM p GROUP BY user_id
         |),
         |cells AS (
         |  SELECT c.cohort_day, p.day - c.cohort_day AS age,
         |    CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_active,
         |    CAST(sum(p.cents) AS BIGINT) AS rev_cents
         |  FROM p JOIN cohorts c USING (user_id)
         |  GROUP BY c.cohort_day, p.day - c.cohort_day
         |),
         |sizes AS (
         |  SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_users
         |  FROM cohorts GROUP BY cohort_day
         |)
         |SELECT cohort_day, age, cohort_users, n_active, rev_cents,
         |  CAST(sum(rev_cents) OVER (PARTITION BY cohort_day ORDER BY age
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
         |FROM cells JOIN sizes USING (cohort_day)
         |ORDER BY cohort_day, age""".stripMargin,

    "ab_lift" ->
      """WITH users AS (
        |  SELECT DISTINCT user_id,
        |    substring(md5(concat('ab', user_id)), 1, 1) <= '7' AS arm_a
        |  FROM events
        |),
        |convs AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_purch,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
        |),
        |agg AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS users_a,
        |    CAST(sum(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS BIGINT) AS users_b,
        |    CAST(sum(CASE WHEN arm_a AND n_purch IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
        |    CAST(sum(CASE WHEN NOT arm_a AND n_purch IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS conv_b,
        |    CAST(sum(CASE WHEN arm_a THEN coalesce(cents, 0) ELSE 0 END) AS BIGINT) AS rev_a_cents,
        |    CAST(sum(CASE WHEN NOT arm_a THEN coalesce(cents, 0) ELSE 0 END) AS BIGINT) AS rev_b_cents
        |  FROM users LEFT JOIN convs USING (user_id)
        |)
        |SELECT users_a, users_b, conv_a, conv_b, rev_a_cents, rev_b_cents,
        |  (1000 * conv_a) // users_a AS rate_a_milli,
        |  (1000 * conv_b) // users_b AS rate_b_milli,
        |  (1000 * conv_b) // users_b - (1000 * conv_a) // users_a AS abs_lift_milli,
        |  (1000 * conv_b * users_a) // (users_b * conv_a) - 1000 AS rel_lift_milli
        |FROM agg""".stripMargin
  )
}
