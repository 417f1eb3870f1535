package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-14 batch #4 — session-behavior profiles (the 30-min-gap session
  * convention of `session_paths`, Queries36):
  *
  *  - `entry_exit_pages`: the session entry-type × exit-type matrix (how do
  *    sessions start vs end — the landing/abandon fingerprint). Two
  *    row_numbers in the same per-session window pass, then a bounded 5×5
  *    rollup.
  *  - `dwell_time_buckets`: time-to-next-event within a session, bucketed
  *    on a fixed threshold ladder per event type — which event types park
  *    the user. One lead() per session window, bounded output.
  *  - `page_revisit_rate`: share of sessions that RE-visit a page (distinct
  *    synth page ids < events), by session-depth band — pogo-sticking by
  *    depth. Per-session distinct counts, bounded 4-band report.
  *
  * All three share the user-partitioned session windows — parallel across
  * users at any scale, the sessionize posture.
  */
object Queries189 extends QuerySet {
  private val GapUs = 30L * 60 * 1000 * 1000

  private def sessions(sp: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(sp, dir)
      .withColumn("prev_ts", lag("ts_us", 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > GapUs, 1).otherwise(0))
      .withColumn("session_idx",
        sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  val defs: Map[String, Q] = Map(
    "entry_exit_pages" -> { (sp, dir) =>
      val wa = Window.partitionBy("user_id", "session_idx").orderBy("ts_us", "event_id")
      val wd = Window.partitionBy("user_id", "session_idx")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      sessions(sp, dir)
        .withColumn("rn_a", row_number().over(wa))
        .withColumn("rn_d", row_number().over(wd))
        .groupBy("user_id", "session_idx")
        .agg(max(when(col("rn_a") === 1, col("event_type"))).as("entry_type"),
          max(when(col("rn_d") === 1, col("event_type"))).as("exit_type"))
        .groupBy("entry_type", "exit_type")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy("entry_type", "exit_type")
    },

    "dwell_time_buckets" -> { (sp, dir) =>
      val w2 = Window.partitionBy("user_id", "session_idx").orderBy("ts_us", "event_id")
      sessions(sp, dir)
        .withColumn("next_ts", lead("ts_us", 1).over(w2))
        .withColumn("gap_ms", expr("(next_ts - ts_us) div 1000"))
        .filter(col("gap_ms").isNotNull)
        .withColumn("bucket",
          when(col("gap_ms") < 1000, "a_lt_1s")
            .when(col("gap_ms") < 10000, "b_lt_10s")
            .when(col("gap_ms") < 60000, "c_lt_1m")
            .when(col("gap_ms") < 300000, "d_lt_5m")
            .otherwise("e_ge_5m"))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"), expr("sum(gap_ms) div count(1)").as("avg_gap_ms"))
        .orderBy("event_type", "bucket")
    },

    "page_revisit_rate" -> { (sp, dir) =>
      sessions(sp, dir)
        .withColumn("page", expr("event_id % 100"))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"), countDistinct("page").as("n_pages"))
        .select(
          expr("CAST(CASE WHEN n_events = 1 THEN 1 WHEN n_events = 2 THEN 2 WHEN n_events <= 5 THEN 3 ELSE 4 END AS BIGINT)")
            .as("depth_band"),
          when(col("n_events") > col("n_pages"), 1L).otherwise(0L).as("revisit"))
        .groupBy("depth_band")
        .agg(count(lit(1)).as("n_sessions"), sum("revisit").as("n_revisit"))
        .withColumn("revisit_pm", expr("n_revisit * 1000 div n_sessions"))
        .orderBy("depth_band")
    }
  )

  // ---- DuckDB twins ----

  private val sessCte = Queries36.sessCteSql

  val oracles: Map[String, String] = Map(
    "entry_exit_pages" ->
      s"""WITH $sessCte,
         |rn AS (
         |  SELECT user_id, session_idx, event_type,
         |    row_number() OVER (PARTITION BY user_id, session_idx
         |      ORDER BY ts_us, event_id) AS rn_a,
         |    row_number() OVER (PARTITION BY user_id, session_idx
         |      ORDER BY ts_us DESC, event_id DESC) AS rn_d
         |  FROM sess),
         |per_s AS (
         |  SELECT user_id, session_idx,
         |    max(CASE WHEN rn_a = 1 THEN event_type END) AS entry_type,
         |    max(CASE WHEN rn_d = 1 THEN event_type END) AS exit_type
         |  FROM rn GROUP BY 1, 2)
         |SELECT entry_type, exit_type, CAST(count(*) AS BIGINT) AS n_sessions
         |FROM per_s GROUP BY 1, 2 ORDER BY entry_type, exit_type""".stripMargin,

    "dwell_time_buckets" ->
      s"""WITH $sessCte,
         |gaps AS (
         |  SELECT event_type,
         |    (lead(ts_us, 1) OVER (PARTITION BY user_id, session_idx
         |       ORDER BY ts_us, event_id) - ts_us) // 1000 AS gap_ms
         |  FROM sess),
         |b AS (
         |  SELECT event_type, gap_ms,
         |    CASE WHEN gap_ms < 1000 THEN 'a_lt_1s'
         |         WHEN gap_ms < 10000 THEN 'b_lt_10s'
         |         WHEN gap_ms < 60000 THEN 'c_lt_1m'
         |         WHEN gap_ms < 300000 THEN 'd_lt_5m'
         |         ELSE 'e_ge_5m' END AS bucket
         |  FROM gaps WHERE gap_ms IS NOT NULL)
         |SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(gap_ms) // count(*) AS BIGINT) AS avg_gap_ms
         |FROM b GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,

    "page_revisit_rate" ->
      s"""WITH $sessCte,
         |per_s AS (
         |  SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
         |    CAST(count(DISTINCT event_id % 100) AS BIGINT) AS n_pages
         |  FROM sess GROUP BY 1, 2)
         |SELECT CAST(CASE WHEN n_events = 1 THEN 1 WHEN n_events = 2 THEN 2
         |  WHEN n_events <= 5 THEN 3 ELSE 4 END AS BIGINT) AS depth_band,
         |  CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(sum(CASE WHEN n_events > n_pages THEN 1 ELSE 0 END) AS BIGINT) AS n_revisit,
         |  CAST(sum(CASE WHEN n_events > n_pages THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
         |    AS revisit_pm
         |FROM per_s GROUP BY 1 ORDER BY depth_band""".stripMargin
  )
}
