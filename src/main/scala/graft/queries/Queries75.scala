package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #47 — time-decay attribution:
  *
  *  - `attribution_time_decay`: the third credit model next to
  *    `attribution_multitouch`'s linear and U-shaped splits — recency
  *    decay with a one-day half-life, EXACTLY: weight = 1024 >> age_days
  *    (integer halving — `pow(0.5, age)` in FP would not hash-match
  *    across engines), credit = w·1000 div Σw per conversion. Same touch
  *    universe, campaign derivation, and user-keyed join spelling as the
  *    multitouch model, so the three models are comparable row-for-row;
  *    per-conversion credit conservation (≤ 1000 milli, the div
  *    remainder) spec'd like its siblings.
  */
object Queries75 extends QuerySet {
  private val TouchWindowUs = 7L * 86400000000L
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "attribution_time_decay" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
      val touches = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us").as("touch_us"),
          col("event_id").as("touch_id"),
          (get_json_object(col("props"), "$.k").cast("bigint") % 10).as("campaign"))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("conv_id"), col("user_id"), col("ts_us").as("conv_us"))
      val joined = conv.join(touches, Seq("user_id"))
        .filter(col("touch_us") <= col("conv_us") &&
          col("conv_us") - col("touch_us") <= TouchWindowUs)
        .withColumn("age_days", expr(s"(conv_us - touch_us) div $DayUs"))
        .withColumn("w", expr("CAST(1024 AS BIGINT) div CAST(pow(2, age_days) AS BIGINT)"))
      val wConv = Window.partitionBy("conv_id")
      joined
        .withColumn("w_sum", sum("w").over(wConv))
        .withColumn("decay_milli", expr("w * 1000 div w_sum"))
        .groupBy("campaign")
        .agg(countDistinct(col("conv_id")).as("n_conv"),
          count(lit(1)).as("n_touches"),
          sum("decay_milli").as("decay_milli"))
        .orderBy("campaign")
    }
  )

  val oracles: Map[String, String] = Map(
    "attribution_time_decay" ->
      s"""WITH touches AS (
         |  SELECT user_id, epoch_us(ts) AS touch_us, event_id AS touch_id,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) % 10 AS campaign
         |  FROM events WHERE event_type = 'click'
         |),
         |conv AS (
         |  SELECT event_id AS conv_id, user_id, epoch_us(ts) AS conv_us
         |  FROM events WHERE event_type = 'purchase'
         |),
         |joined AS (
         |  SELECT c.conv_id, t.campaign,
         |    CAST(1024 AS BIGINT) // CAST(pow(2, (c.conv_us - t.touch_us) // $DayUs)
         |      AS BIGINT) AS w
         |  FROM conv c JOIN touches t ON t.user_id = c.user_id
         |  WHERE t.touch_us <= c.conv_us
         |    AND c.conv_us - t.touch_us <= $TouchWindowUs
         |),
         |credited AS (
         |  SELECT conv_id, campaign, w,
         |    sum(w) OVER (PARTITION BY conv_id) AS w_sum
         |  FROM joined
         |)
         |SELECT campaign, CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conv,
         |  CAST(count(*) AS BIGINT) AS n_touches,
         |  CAST(sum(w * 1000 // w_sum) AS BIGINT) AS decay_milli
         |FROM credited GROUP BY campaign ORDER BY campaign""".stripMargin
  )
}
