package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.IntIdioms.nearestRank

/** Round-8 continuation #8 — session-behavior classics on top of the
  * gap-sessionization kernel `sessionize` established:
  *
  *  - `session_paths`: top event-type 3-grams WITHIN sessions — the "what
  *    do users actually do" sequence report; the session windows and the
  *    lead() n-gram windows share one (user) shuffle, then one
  *    map-side-combined count.
  *  - `conversion_latency`: signup → first-purchase latency distribution
  *    (exact rank-arithmetic percentiles). The latency universe is one row
  *    per converted user — the global percentile window runs over the
  *    purchaser set, not the event stream.
  *  - `bounce_rate`: single-event sessions per landing page host — the
  *    gap-session twin of the classic bounce report. Host comes from the
  *    session's FIRST event (row_number window), rate in exact milli.
  */
object Queries36 extends QuerySet {
  private val GapUs = 30L * 60 * 1000 * 1000
  private val TopPaths = 20

  val defs: Map[String, Q] = Map(
    "session_paths" -> { (sp, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val sess = Tables.events(sp, dir)
        .withColumn("prev_ts", lag("ts_us", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > GapUs, 1).otherwise(0))
        .withColumn("session_idx",
          sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val w2 = Window.partitionBy("user_id", "session_idx").orderBy("ts_us", "event_id")
      sess
        .withColumn("e1", lead("event_type", 1).over(w2))
        .withColumn("e2", lead("event_type", 2).over(w2))
        .filter(col("e1").isNotNull && col("e2").isNotNull)
        .select(concat_ws(">", col("event_type"), col("e1"), col("e2")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("path"))
        .limit(TopPaths)
    },

    "conversion_latency" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts_us").as("su_ts"))
      val lat = ev.filter(col("event_type") === "purchase")
        .join(su, Seq("user_id"))
        .filter(col("ts_us") >= col("su_ts"))
        .groupBy("user_id").agg(min("ts_us").as("fp_ts"), min("su_ts").as("su"))
        .select(col("user_id"), expr("(fp_ts - su) div 60000000").as("lat_min"))
      val wOrd = Window.orderBy(col("lat_min"), col("user_id"))
      val ranked = lat
        .withColumn("rk", row_number().over(wOrd))
        .withColumn("n", count(lit(1)).over())
      ranked.agg(max("n").as("n_converted"),
        nearestRank(50, col("lat_min")).as("p50_min"),
        nearestRank(90, col("lat_min")).as("p90_min"), max("lat_min").as("max_min"))
    },

    "bounce_rate" -> { (sp, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val sess = Tables.events(sp, dir)
        .withColumn("prev_ts", lag("ts_us", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > GapUs, 1).otherwise(0))
        .withColumn("session_idx",
          sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("host", Synth.pick(col("event_id") % 4, Synth.PageHosts))
      val w2 = Window.partitionBy("user_id", "session_idx").orderBy("ts_us", "event_id")
      sess
        .withColumn("rk", row_number().over(w2))
        .withColumn("n_events",
          count(lit(1)).over(Window.partitionBy("user_id", "session_idx")))
        .filter(col("rk") === 1)
        .groupBy(col("host").as("landing_host"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"))
        .select(col("landing_host"), col("n_sessions"), col("n_bounce"),
          expr("(1000 * n_bounce) div n_sessions").as("bounce_milli"))
        .orderBy("landing_host")
    }
  )

  private[queries] val sessCteSql: String =
    s"""ev AS (
       |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events
       |),
       |s1 AS (
       |  SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_ts
       |  FROM ev
       |),
       |s2 AS (
       |  SELECT *, CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > $GapUs THEN 1 ELSE 0 END AS new_session
       |  FROM s1
       |),
       |sess AS (
       |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |    ROWS UNBOUNDED PRECEDING) AS session_idx
       |  FROM s2
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "session_paths" ->
      s"""WITH $sessCteSql,
         |grams AS (
         |  SELECT event_type,
         |    lead(event_type, 1) OVER (PARTITION BY user_id, session_idx
         |      ORDER BY ts_us, event_id) AS e1,
         |    lead(event_type, 2) OVER (PARTITION BY user_id, session_idx
         |      ORDER BY ts_us, event_id) AS e2
         |  FROM sess
         |)
         |SELECT event_type || '>' || e1 || '>' || e2 AS path,
         |  CAST(count(*) AS BIGINT) AS cnt
         |FROM grams WHERE e1 IS NOT NULL AND e2 IS NOT NULL
         |GROUP BY 1 ORDER BY cnt DESC, path LIMIT $TopPaths""".stripMargin,

    "conversion_latency" ->
      """WITH su AS (
        |  SELECT user_id, min(epoch_us(ts)) AS su_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id
        |),
        |lat AS (
        |  SELECT e.user_id, (min(epoch_us(e.ts)) - min(su.su_ts)) // 60000000 AS lat_min
        |  FROM events e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= su.su_ts
        |  GROUP BY e.user_id
        |),
        |ranked AS (
        |  SELECT lat_min,
        |    row_number() OVER (ORDER BY lat_min, user_id) AS rk,
        |    count(*) OVER () AS n
        |  FROM lat
        |)
        |SELECT CAST(max(n) AS BIGINT) AS n_converted,
        |  max(CASE WHEN rk = 1 + (50 * (n - 1)) // 100 THEN lat_min END) AS p50_min,
        |  max(CASE WHEN rk = 1 + (90 * (n - 1)) // 100 THEN lat_min END) AS p90_min,
        |  max(lat_min) AS max_min
        |FROM ranked""".stripMargin,

    "bounce_rate" ->
      s"""WITH $sessCteSql,
         |marked AS (
         |  SELECT ${Synth.caseSql("event_id % 4", Synth.PageHosts)} AS host,
         |    row_number() OVER (PARTITION BY user_id, session_idx
         |      ORDER BY ts_us, event_id) AS rk,
         |    count(*) OVER (PARTITION BY user_id, session_idx) AS n_events
         |  FROM sess
         |)
         |SELECT host AS landing_host,
         |  CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
         |  (1000 * CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT))
         |    // CAST(count(*) AS BIGINT) AS bounce_milli
         |FROM marked WHERE rk = 1
         |GROUP BY host ORDER BY landing_host""".stripMargin
  )
}
