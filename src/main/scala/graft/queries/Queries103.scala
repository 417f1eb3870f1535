package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #23 — funnel economics by customer value, and the session
  * depth profile:
  *
  *  - `funnel_by_segment`: `ordered_funnel`'s min-chain cross-tabulated by
  *    the monetary quintile of `rfm_segments` (non-purchasers land in
  *    segment 0 via the left join's null) — which customer tier actually
  *    converts. The chain is the funnel's own spelling, the quintile is
  *    the RFM oracle's own ntile; the cross-tab adds one user-key join
  *    and a 6-group aggregate.
  *  - `session_depth_hist`: the exact events-per-session distribution
  *    (sessionize's 30-minute windows), with corpus share — the depth
  *    profile that separates bounce traffic from engaged sessions and
  *    sizes every per-session operator's fan-out assumption. One user
  *    window (already priced by sessionize) + two tiny aggregates.
  */
object Queries103 extends QuerySet {
  private val FunnelWindowUs = 7L * 86400000000L
  private val GapUs = 30L * 60 * 1000 * 1000

  val defs: Map[String, Q] = Map(
    "funnel_by_segment" -> { (sp, dir) =>
      val ev = graft.util.CacheScope.track(Tables.events(sp, dir)
        .select(col("user_id"), col("event_type"), col("ts_us"),
          round(col("value") * 100).cast("bigint").as("cents")))
      ev.count()
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, Seq("user_id"))
        .filter(col("ts_us") > col("t1") && col("ts_us") <= col("t1") + FunnelWindowUs)
        .groupBy("user_id").agg(min("ts_us").as("t2"), min("t1").as("t1k"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id"))
        .filter(col("ts_us") > col("t2") && col("ts_us") <= col("t1k") + FunnelWindowUs)
        .groupBy("user_id").agg(min("ts_us").as("t3"))
      val mscore = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(sum("cents").as("mon_cents"))
        .withColumn("m_score", ntile(5).over(
          Window.orderBy(col("mon_cents").desc, col("user_id"))).cast("bigint"))
        .select(col("user_id"), col("m_score"))
      val steps = s1.select(col("user_id"), lit(1L).as("step"))
        .unionAll(s2.select(col("user_id"), lit(2L)))
        .unionAll(s3.select(col("user_id"), lit(3L)))
      steps.join(mscore, Seq("user_id"), "left")
        .groupBy(coalesce(col("m_score"), lit(0L)).as("segment"))
        .agg(sum(when(col("step") === 1, 1L).otherwise(0L)).as("n_step1"),
          sum(when(col("step") === 2, 1L).otherwise(0L)).as("n_step2"),
          sum(when(col("step") === 3, 1L).otherwise(0L)).as("n_step3"))
        .select(col("segment"), col("n_step1"), col("n_step2"), col("n_step3"),
          when(col("n_step1") > 0, expr("(10000 * n_step3) div n_step1"))
            .otherwise(0L).as("s3_bp"))
        .orderBy("segment")
    },

    "session_depth_hist" -> { (sp, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val depths = Tables.events(sp, dir)
        .withColumn("prev_ts", lag("ts_us", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > GapUs, 1)
            .otherwise(0))
        .withColumn("session_idx",
          sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx").agg(count(lit(1)).as("depth"))
        .groupBy("depth").agg(count(lit(1)).as("n_sessions"))
      val tot = depths.agg(sum("n_sessions").as("total"))
      depths.crossJoin(broadcast(tot))
        .select(col("depth"), col("n_sessions"),
          expr("n_sessions * 1000 div total").as("share_milli"))
        .orderBy("depth")
    }
  )

  val oracles: Map[String, String] = Map(
    "funnel_by_segment" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
         |    CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events
         |),
         |s1 AS (
         |  SELECT user_id, min(ts_us) AS t1 FROM ev
         |  WHERE event_type = 'view' GROUP BY user_id
         |),
         |s2 AS (
         |  SELECT e.user_id, min(e.ts_us) AS t2, min(s1.t1) AS t1k
         |  FROM ev e JOIN s1 ON e.user_id = s1.user_id
         |  WHERE e.event_type = 'click' AND e.ts_us > s1.t1
         |    AND e.ts_us <= s1.t1 + $FunnelWindowUs
         |  GROUP BY e.user_id
         |),
         |s3 AS (
         |  SELECT e.user_id, min(e.ts_us) AS t3
         |  FROM ev e JOIN s2 ON e.user_id = s2.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts_us > s2.t2
         |    AND e.ts_us <= s2.t1k + $FunnelWindowUs
         |  GROUP BY e.user_id
         |),
         |m AS (
         |  SELECT user_id,
         |    CAST(ntile(5) OVER (ORDER BY sum(cents) DESC, user_id) AS BIGINT) AS m_score
         |  FROM ev WHERE event_type = 'purchase' GROUP BY user_id
         |),
         |steps AS (
         |  SELECT user_id, 1 AS step FROM s1
         |  UNION ALL SELECT user_id, 2 FROM s2
         |  UNION ALL SELECT user_id, 3 FROM s3
         |)
         |SELECT coalesce(m.m_score, 0) AS segment,
         |  CAST(sum(CASE WHEN step = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_step1,
         |  CAST(sum(CASE WHEN step = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_step2,
         |  CAST(sum(CASE WHEN step = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_step3,
         |  CAST(CASE WHEN sum(CASE WHEN step = 1 THEN 1 ELSE 0 END) > 0
         |    THEN (10000 * sum(CASE WHEN step = 3 THEN 1 ELSE 0 END))
         |      // sum(CASE WHEN step = 1 THEN 1 ELSE 0 END)
         |    ELSE 0 END AS BIGINT) AS s3_bp
         |FROM steps LEFT JOIN m ON steps.user_id = m.user_id
         |GROUP BY 1 ORDER BY segment""".stripMargin,

    "session_depth_hist" ->
      s"""WITH ${Queries36.sessCteSql},
         |d AS (
         |  SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS depth
         |  FROM sess GROUP BY 1, 2
         |), h AS (
         |  SELECT depth, CAST(count(*) AS BIGINT) AS n_sessions FROM d GROUP BY 1
         |), tot AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS total FROM h)
         |SELECT h.depth, h.n_sessions,
         |  CAST(h.n_sessions * 1000 // t.total AS BIGINT) AS share_milli
         |FROM h, tot t ORDER BY h.depth""".stripMargin
  )
}
