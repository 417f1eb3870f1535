package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #17 — the remaining SQL-surface window/grouping
  * shapes a migrating warehouse workload expects:
  *
  *  - `cube_report`: the full CUBE lattice over (event_type, platform) —
  *    every subtotal combination in one pass (`rollup_agg` covers the
  *    hierarchy-only variant); Catalyst expands the lattice into one
  *    Expand + aggregate, so the shuffle carries 4× the group keys, not
  *    4 scans.
  *  - `trailing_range_sum`: event-TIME window frames — each purchase's
  *    trailing-7-day spend per user via RANGE BETWEEN (value-based frame
  *    bounds over epoch micros, peers included), the frame type tumbling
  *    buckets can't express.
  *  - `forward_fill`: telemetry gap-filling — every event carries the
  *    user's most recent purchase amount via last_value IGNORE NULLS over
  *    a running frame; one (user) shuffle, no self-join.
  */
object Queries45 extends QuerySet {
  private val WeekUs = 7L * 86400000000L

  val defs: Map[String, Q] = Map(
    "cube_report" -> { (sp, dir) =>
      Synth.withRaw(Tables.events(sp, dir))
        .cube(col("event_type"), col("platform_code"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("bigint")).as("sum_cents"))
        .orderBy(col("event_type").asc_nulls_first, col("platform_code").asc_nulls_first)
    },

    "trailing_range_sum" -> { (sp, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-WeekUs, Window.currentRow)
      Tables.events(sp, dir).filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          round(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("trailing_7d_cents", sum("cents").over(w))
        .orderBy("event_id")
    },

    "forward_fill" -> { (sp, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(sp, dir)
        .withColumn("purchase_cents",
          when(col("event_type") === "purchase", round(col("value") * 100).cast("bigint")))
        .withColumn("last_purchase_cents",
          last(col("purchase_cents"), ignoreNulls = true).over(w))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("last_purchase_cents"))
        .orderBy("event_id")
    }
  )

  val oracles: Map[String, String] = Map(
    "cube_report" -> Synth.withCte(
      """SELECT event_type, platform_code, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM raw
        |GROUP BY CUBE(event_type, platform_code)
        |ORDER BY event_type NULLS FIRST, platform_code NULLS FIRST""".stripMargin),

    "trailing_range_sum" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         |  CAST(round(value * 100) AS BIGINT) AS cents,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
         |    PARTITION BY user_id ORDER BY epoch_us(ts)
         |    RANGE BETWEEN $WeekUs PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS trailing_7d_cents
         |FROM events WHERE event_type = 'purchase'
         |ORDER BY event_id""".stripMargin,

    "forward_fill" ->
      """SELECT event_id, user_id, event_type,
        |  last_value(CASE WHEN event_type = 'purchase'
        |    THEN CAST(round(value * 100) AS BIGINT) END IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_cents
        |FROM events ORDER BY event_id""".stripMargin
  )
}
