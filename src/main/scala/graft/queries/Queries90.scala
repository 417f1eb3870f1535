package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #10 — the late-data revision audit:
  *
  *  - `late_data_reconciliation`: how much each day's aggregate REVISES
  *    once late events land — the read that sizes a streaming pipeline's
  *    watermark/retraction policy next to `watermark_planner`'s
  *    prescription and `late_arrival_stats`' skew distribution. "Late" =
  *    device-created more than [[LateThresholdMs]] before collection
  *    (Synth's deterministic clock-skew universe): the on-time view is
  *    what a watermark that tight would have emitted; the final view is
  *    ground truth; the revision is their exact per-mille delta, per
  *    event-day. Two key-shrinking aggregations off one scan — the
  *    revision report never re-reads history.
  */
object Queries90 extends QuerySet {
  private[graft] val LateThresholdMs = 3000L

  val defs: Map[String, Q] = Map(
    "late_data_reconciliation" -> { (sp, dir) =>
      // compare in µs, undivided: the skew is negative on the 1-in-17
      // backwards clock jump in the synth universe
      val raw = Synth.withRaw(Tables.events(sp, dir))
        .select(expr("ts_us div 86400000000").as("day"),
          (col("collector_us") - col("created_us")).as("skew_us"))
      val daily = raw.groupBy("day")
        .agg(count(lit(1)).as("n_final"),
          sum(when(col("skew_us") <= LateThresholdMs * 1000, 1L).otherwise(0L)).as("n_ontime"))
      daily.select(col("day"), col("n_ontime"), col("n_final"),
          (col("n_final") - col("n_ontime")).as("n_late"),
          expr("(n_final - n_ontime) * 1000 div n_final").as("revision_milli"))
        .orderBy("day")
    }
  )

  val oracles: Map[String, String] = Map(
    "late_data_reconciliation" -> Synth.withCte(
      s"""SELECT day, n_ontime, n_final, n_final - n_ontime AS n_late,
         |  CAST((n_final - n_ontime) * 1000 // n_final AS BIGINT) AS revision_milli
         |FROM (
         |  SELECT ts_us // 86400000000 AS day,
         |    CAST(count(*) AS BIGINT) AS n_final,
         |    CAST(sum(CASE WHEN collector_us - created_us <= $LateThresholdMs * 1000
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_ontime
         |  FROM raw GROUP BY day
         |) t ORDER BY day""".stripMargin)
  )
}
