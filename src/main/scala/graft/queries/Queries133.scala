package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #53 — the engine's own session operator + the classic
  * in-session conversion read:
  *
  *  - `sessionize_native`: gap sessionization through Spark's BUILT-IN
  *    `session_window` aggregate (the state-store-backed operator
  *    Structured Streaming uses) instead of the lag/cumsum window
  *    spelling — pinned to `sessionize`'s oracle VERBATIM. Semantics
  *    note: `session_window(gap)` merges at diff ≤ gap (the session end
  *    is INCLUSIVE — spec-pinned on synthetic boundary events), which is
  *    exactly the lag spelling's break-only-at-diff-above-gap boundary.
  *    On a cluster this plan is ONE shuffle + the dedicated
  *    session-window aggregation (no per-user sort window), and the
  *    same operator incrementalizes under streaming.
  *  - `session_abandonment`: clicked-but-didn't-buy WITHIN the session —
  *    the in-session funnel `funnel_counts` (lifetime grain) hides.
  *    Per session-start day: engaged sessions (≥1 click), converted
  *    (click AND purchase in the SAME session), abandoned, and the
  *    abandonment rate in exact milli. Composes the sessionize
  *    boundaries verbatim. */
object Queries133 extends QuerySet {
  private val GapUs = 30L * 60 * 1000 * 1000
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "sessionize_native" -> { (sp, dir) =>
      val sess = Tables.events(sp, dir)
        .withColumn("t", timestamp_micros(col("ts_us")))
        .groupBy(col("user_id"),
          session_window(col("t"), s"$GapUs microseconds").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          min("ts_us").as("start_us"), max("ts_us").as("end_us"))
      val w = Window.partitionBy("user_id").orderBy("start_us")
      sess.withColumn("session_idx", row_number().over(w).cast("bigint"))
        .select(col("user_id"), col("session_idx"), col("n_events"),
          col("start_us"), col("end_us"))
        .orderBy("user_id", "session_idx")
    },

    "session_abandonment" -> { (sp, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val sessions = Tables.events(sp, dir)
        .withColumn("prev_ts", lag("ts_us", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > GapUs, lit(1))
            .otherwise(lit(0)))
        .withColumn("session_idx",
          sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(expr(s"min(ts_us) div $DayUs").as("day"),
          max(when(col("event_type") === "click", 1L).otherwise(0L)).as("has_click"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("has_purchase"))
      sessions.groupBy("day")
        .agg(count(lit(1)).as("n_sessions"),
          sum("has_click").as("n_engaged"),
          sum(col("has_click") * col("has_purchase")).as("n_converted"))
        .withColumn("n_abandoned", col("n_engaged") - col("n_converted"))
        .withColumn("abandon_milli",
          expr("CASE WHEN n_engaged = 0 THEN 0 ELSE n_abandoned * 1000 div n_engaged END"))
        .select("day", "n_sessions", "n_engaged", "n_converted",
          "n_abandoned", "abandon_milli")
        .orderBy("day")
    }
  )

  private val SessionsCteSql =
    s"""sessions AS (
       |  SELECT user_id, session_idx,
       |    min(ts_us) // $DayUs AS day,
       |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
       |  FROM (
       |    SELECT user_id, event_type, ts_us,
       |      CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |        AS session_idx
       |    FROM (
       |      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
       |        CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
       |               OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > $GapUs
       |             THEN 1 ELSE 0 END AS new_session
       |      FROM events
       |    ) a
       |  ) b GROUP BY 1, 2
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    // pinned VERBATIM: the built-in session_window operator draws the
    // same boundaries as the lag/cumsum spelling
    "sessionize_native" -> AnalyticsQueries.oracles("sessionize"),

    "session_abandonment" ->
      s"""WITH $SessionsCteSql
         |SELECT day, CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(sum(has_click) AS BIGINT) AS n_engaged,
         |  CAST(sum(has_click * has_purchase) AS BIGINT) AS n_converted,
         |  CAST(sum(has_click) - sum(has_click * has_purchase) AS BIGINT) AS n_abandoned,
         |  CAST(CASE WHEN sum(has_click) = 0 THEN 0
         |       ELSE (sum(has_click) - sum(has_click * has_purchase)) * 1000 // sum(has_click)
         |       END AS BIGINT) AS abandon_milli
         |FROM sessions GROUP BY day ORDER BY day""".stripMargin
  )
}
