package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #11 — engagement-depth classics:
  *
  *  - `active_streaks`: longest consecutive-day activity streak per user —
  *    the canonical gaps-and-islands: distinct (user, day) once, island id
  *    = day − dense-rank (consecutive days share it), then two aggregates
  *    on keys that only ever SHRINK (user-day → island → user).
  *  - `activity_concentration`: how concentrated is activity across users —
  *    top-decile share and the exact integer Gini coefficient of the
  *    per-user event distribution (rank-weighted sum identity:
  *    G = (2·Σ rank·cnt) / (n·Σ cnt) − (n+1)/n, all in milli by integer
  *    division). The rank window runs over one row per user.
  */
object Queries39 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "active_streaks" -> { (sp, dir) =>
      val ud = Tables.events(sp, dir)
        .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      ud.withColumn("island", col("day") - dense_rank().over(w))
        .groupBy("user_id", "island")
        .agg(count(lit(1)).as("len"), min("day").as("streak_start"))
        .groupBy("user_id")
        .agg(max("len").as("longest_streak"),
          count(lit(1)).as("n_streaks"),
          min("streak_start").as("first_day"))
        .orderBy("user_id")
    },

    "activity_concentration" -> { (sp, dir) =>
      val per = Tables.events(sp, dir)
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      val ranked = per
        .withColumn("rk", row_number().over(Window.orderBy(col("cnt"), col("user_id"))))
        .withColumn("n", count(lit(1)).over())
        .withColumn("tot", sum("cnt").over())
      ranked.agg(
        max("n").as("n_users"),
        max("tot").as("n_events"),
        // top decile by activity = ranks above n - n div 10
        sum(when(col("rk") > col("n") - expr("n div 10"), col("cnt")).otherwise(0L))
          .as("top_decile_events"),
        sum(expr("rk * cnt")).as("rank_weighted"))
        .select(col("n_users"), col("n_events"), col("top_decile_events"),
          expr("(1000 * top_decile_events) div n_events").as("top_decile_share_milli"),
          expr("(2000 * rank_weighted) div (n_users * n_events) - (1000 * (n_users + 1)) div n_users")
            .as("gini_milli"))
    }
  )

  val oracles: Map[String, String] = Map(
    "active_streaks" ->
      s"""WITH ud AS (
         |  SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day FROM events
         |),
         |isl AS (
         |  SELECT user_id, day,
         |    day - dense_rank() OVER (PARTITION BY user_id ORDER BY day) AS island
         |  FROM ud
         |),
         |streaks AS (
         |  SELECT user_id, island, CAST(count(*) AS BIGINT) AS len,
         |    min(day) AS streak_start
         |  FROM isl GROUP BY user_id, island
         |)
         |SELECT user_id, max(len) AS longest_streak,
         |  CAST(count(*) AS BIGINT) AS n_streaks,
         |  min(streak_start) AS first_day
         |FROM streaks GROUP BY user_id ORDER BY user_id""".stripMargin,

    "activity_concentration" ->
      """WITH per AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY user_id
        |),
        |ranked AS (
        |  SELECT cnt,
        |    CAST(row_number() OVER (ORDER BY cnt, user_id) AS BIGINT) AS rk,
        |    CAST(count(*) OVER () AS BIGINT) AS n,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS tot
        |  FROM per
        |),
        |agg AS (
        |  SELECT max(n) AS n_users, max(tot) AS n_events,
        |    CAST(sum(CASE WHEN rk > n - n // 10 THEN cnt ELSE 0 END) AS BIGINT)
        |      AS top_decile_events,
        |    CAST(sum(rk * cnt) AS BIGINT) AS rank_weighted
        |  FROM ranked
        |)
        |SELECT n_users, n_events, top_decile_events,
        |  (1000 * top_decile_events) // n_events AS top_decile_share_milli,
        |  (2000 * rank_weighted) // (n_users * n_events)
        |    - (1000 * (n_users + 1)) // n_users AS gini_milli
        |FROM agg""".stripMargin
  )
}
