package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-9 batch #12 — the session-scoped funnel:
  *
  *  - `sessionized_funnel`: conversion WITHIN a single session — the
  *    strictest funnel semantics (vs `funnel_counts`' lifetime membership
  *    and `ordered_funnel`'s 7-day window): view → click → purchase must
  *    happen in order inside ONE 30-minute-gap session. Sessions come
  *    from the `sessionize` spelling (one user-keyed window pass); the
  *    ordered steps are three conditional-min aggregates per (user,
  *    session) — the SAME key the sessionization already shuffled on, so
  *    the whole query is one exchange end-to-end. Output: sessions at
  *    each funnel depth + exact basis-point conversion.
  */
object Queries92 extends QuerySet {
  private val GapUs = 30L * 60 * 1000 * 1000

  val defs: Map[String, Q] = Map(
    "sessionized_funnel" -> { (sp, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val sess = graft.Tables.events(sp, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
        .withColumn("prev_ts", lag("ts_us", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > GapUs, lit(1))
            .otherwise(lit(0)))
        .withColumn("session_idx", sum("new_session").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val steps = sess.groupBy("user_id", "session_idx")
        .agg(min(when(col("event_type") === "view", col("ts_us"))).as("t_view"))
      // chained conditional mins need the view/click order INSIDE the same
      // rows — re-aggregate from the session rows with the first-view bound
      val withView = sess.join(steps, Seq("user_id", "session_idx"))
      val funnel = withView.groupBy("user_id", "session_idx")
        .agg(
          min(when(col("event_type") === "view", col("ts_us"))).as("t_view"),
          min(when(col("event_type") === "click" && col("ts_us") > col("t_view"),
            col("ts_us"))).as("t_click"))
      val withClick = sess.join(funnel, Seq("user_id", "session_idx"))
      val depth = withClick.groupBy("user_id", "session_idx")
        .agg(max(col("t_view").isNotNull).as("has_view"),
          max(col("t_click").isNotNull).as("has_click"),
          max(col("event_type") === "purchase" && col("t_click").isNotNull &&
            col("ts_us") > col("t_click")).as("has_purchase"))
      depth.agg(
          count(lit(1)).as("n_sessions"),
          sum(when(col("has_view"), 1L).otherwise(0L)).as("n_view"),
          sum(when(col("has_click"), 1L).otherwise(0L)).as("n_view_click"),
          sum(when(col("has_purchase"), 1L).otherwise(0L)).as("n_full"))
        .select(col("n_sessions"), col("n_view"), col("n_view_click"), col("n_full"),
          expr("n_full * 10000 div n_sessions").as("conversion_bp"))
    }
  )

  val oracles: Map[String, String] = Map(
    "sessionized_funnel" ->
      s"""WITH sess AS (
         |  SELECT user_id, ts_us, event_type,
         |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
         |  FROM (
         |    SELECT user_id, event_id, ts_us, event_type,
         |      CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > $GapUs THEN 1 ELSE 0 END
         |        AS new_session
         |    FROM (
         |      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
         |        lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         |          AS prev_ts
         |      FROM events
         |    ) a
         |  ) b
         |),
         |v AS (
         |  SELECT user_id, session_idx,
         |    min(CASE WHEN event_type = 'view' THEN ts_us END) AS t_view
         |  FROM sess GROUP BY 1, 2
         |),
         |c AS (
         |  SELECT s.user_id, s.session_idx, v.t_view,
         |    min(CASE WHEN s.event_type = 'click' AND s.ts_us > v.t_view THEN s.ts_us END)
         |      AS t_click
         |  FROM sess s JOIN v ON v.user_id = s.user_id AND v.session_idx = s.session_idx
         |  GROUP BY 1, 2, 3
         |),
         |d AS (
         |  SELECT s.user_id, s.session_idx,
         |    max(c.t_view IS NOT NULL) AS has_view,
         |    max(c.t_click IS NOT NULL) AS has_click,
         |    max(s.event_type = 'purchase' AND c.t_click IS NOT NULL AND s.ts_us > c.t_click)
         |      AS has_purchase
         |  FROM sess s JOIN c ON c.user_id = s.user_id AND c.session_idx = s.session_idx
         |  GROUP BY 1, 2
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(sum(CASE WHEN has_view THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
         |  CAST(sum(CASE WHEN has_click THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
         |  CAST(sum(CASE WHEN has_purchase THEN 1 ELSE 0 END) AS BIGINT) AS n_full,
         |  CAST(sum(CASE WHEN has_purchase THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
         |    AS conversion_bp
         |FROM d""".stripMargin
  )
}
