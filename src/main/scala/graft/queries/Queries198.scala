package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-14 batch #13 — acquisition-quality screens:
  *
  *  - `first_session_depth_effect`: does a deep FIRST session predict
  *    conversion in LATER sessions? Per-user first-session depth band vs
  *    any-later-purchase rate — the onboarding-quality metric; one
  *    session pass + one per-user rollup.
  *  - `entry_referer_depth`: session quality by the ENTRY event's referer
  *    medium (the full enrichment chain's refr_medium — search/internal/
  *    unknown/direct): sessions, mean depth, in-session purchase rate.
  *    Composition of the flagship pipeline with the sessionizer, bounded
  *    output.
  */
object Queries198 extends QuerySet {
  private val GapUs = 30L * 60 * 1000 * 1000

  private def sessionized(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    df.withColumn("prev_ts", lag("ts_us", 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > GapUs, 1).otherwise(0))
      .withColumn("session_idx",
        sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  val defs: Map[String, Q] = Map(
    "first_session_depth_effect" -> { (sp, dir) =>
      sessionized(Tables.events(sp, dir))
        .groupBy("user_id")
        .agg(sum(when(col("session_idx") === 1, 1L).otherwise(0L)).as("depth1"),
          sum(when(col("session_idx") > 1 && col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("later_purchases"))
        .select(
          expr("CAST(CASE WHEN depth1 = 1 THEN 1 WHEN depth1 = 2 THEN 2 WHEN depth1 <= 5 THEN 3 ELSE 4 END AS BIGINT)")
            .as("depth_band"),
          when(col("later_purchases") > 0, 1L).otherwise(0L).as("conv"))
        .groupBy("depth_band")
        .agg(count(lit(1)).as("n_users"), sum("conv").as("n_converted"))
        .withColumn("later_conv_pm", expr("n_converted * 1000 div n_users"))
        .orderBy("depth_band")
    },

    "entry_referer_depth" -> { (sp, dir) =>
      val ev = PipelineQuery.run(sp, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"),
          coalesce(col("refr_medium"), lit("(direct)")).as("medium"))
      val w2 = Window.partitionBy("user_id", "session_idx").orderBy("ts_us", "event_id")
      sessionized(ev)
        .withColumn("rn", row_number().over(w2))
        .groupBy("user_id", "session_idx")
        .agg(max(when(col("rn") === 1, col("medium"))).as("entry_medium"),
          count(lit(1)).as("depth"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchased"))
        .groupBy("entry_medium")
        .agg(count(lit(1)).as("n_sessions"),
          expr("sum(depth) * 1000 div count(1)").as("avg_depth_milli"),
          expr("sum(purchased) * 1000 div count(1)").as("purchase_pm"))
        .orderBy("entry_medium")
    }
  )

  // ---- DuckDB twins ----

  private val sessCte = Queries36.sessCteSql

  val oracles: Map[String, String] = Map(
    "first_session_depth_effect" ->
      s"""WITH $sessCte,
         |per_u AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN session_idx = 1 THEN 1 ELSE 0 END) AS BIGINT) AS depth1,
         |    CAST(sum(CASE WHEN session_idx > 1 AND event_type = 'purchase'
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS later_purchases
         |  FROM sess GROUP BY 1)
         |SELECT CAST(CASE WHEN depth1 = 1 THEN 1 WHEN depth1 = 2 THEN 2
         |  WHEN depth1 <= 5 THEN 3 ELSE 4 END AS BIGINT) AS depth_band,
         |  CAST(count(*) AS BIGINT) AS n_users,
         |  CAST(sum(CASE WHEN later_purchases > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
         |  CAST(sum(CASE WHEN later_purchases > 0 THEN 1 ELSE 0 END) * 1000 // count(*)
         |    AS BIGINT) AS later_conv_pm
         |FROM per_u GROUP BY 1 ORDER BY depth_band""".stripMargin,

    "entry_referer_depth" ->
      s"""WITH ${PipelineQuery.EnrichedCteSql},
         |ev AS (
         |  SELECT raw.user_id, raw.ts_us, raw.event_id, raw.event_type,
         |    coalesce(e.refr_medium, '(direct)') AS medium
         |  FROM raw JOIN enriched e ON raw.event_id = e.event_id),
         |s1 AS (
         |  SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_ts
         |  FROM ev),
         |s2 AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > $GapUs THEN 1 ELSE 0 END AS new_session
         |  FROM s1),
         |sess AS (
         |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |    ROWS UNBOUNDED PRECEDING) AS session_idx
         |  FROM s2),
         |rn AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id, session_idx
         |    ORDER BY ts_us, event_id) AS rn
         |  FROM sess),
         |per_s AS (
         |  SELECT user_id, session_idx,
         |    max(CASE WHEN rn = 1 THEN medium END) AS entry_medium,
         |    CAST(count(*) AS BIGINT) AS depth,
         |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchased
         |  FROM rn GROUP BY 1, 2)
         |SELECT entry_medium, CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(sum(depth) * 1000 // count(*) AS BIGINT) AS avg_depth_milli,
         |  CAST(sum(purchased) * 1000 // count(*) AS BIGINT) AS purchase_pm
         |FROM per_s GROUP BY 1 ORDER BY entry_medium""".stripMargin
  )
}
