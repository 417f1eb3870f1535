package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.IntIdioms.nearestRank

/** Round-9 batch #26 — session time-on-site and order-fulfilment SLAs:
  *
  *  - `session_duration_profile`: exact rank-percentile session durations
  *    (p50 / p95 / max seconds) per day-of-week of session start, plus
  *    the bounce count — sessionize's windows feeding the
  *    late_arrival_stats percentile idiom; the rank windows partition by
  *    dow, so nothing global touches the session table. The time-on-site
  *    read next to session_depth_hist's event counts.
  *  - `priority_latency_grid`: order fulfilment latency (first shipment
  *    vs order date, truncated days) bucketed early / ≤30d / ≤90d / 90d+
  *    per order priority, with within-priority share — the SLA grid a
  *    fulfilment team reads; one order-key aggregation + a 20-cell
  *    cross-tab.
  */
object Queries106 extends QuerySet {
  private val GapUs = 30L * 60 * 1000 * 1000
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "session_duration_profile" -> { (sp, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val sessions = Tables.events(sp, dir)
        .withColumn("prev_ts", lag("ts_us", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > GapUs, 1)
            .otherwise(0))
        .withColumn("session_idx",
          sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(min("ts_us").as("start_us"), max("ts_us").as("end_us"),
          count(lit(1)).as("depth"))
        .select(expr(s"(start_us div $DayUs + 4) % 7").as("dow"),
          expr("(end_us - start_us) div 1000000").as("dur_s"),
          col("depth"), col("user_id"), col("session_idx"))
      val wRk = Window.partitionBy("dow").orderBy(col("dur_s"), col("user_id"), col("session_idx"))
      val ranked = sessions
        .withColumn("rk", row_number().over(wRk))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("dow")))
      ranked.groupBy("dow")
        .agg(max("n").as("n_sessions"), nearestRank(50, col("dur_s")).as("p50_s"),
          nearestRank(95, col("dur_s")).as("p95_s"),
          max("dur_s").as("max_s"),
          sum(when(col("depth") === 1, 1L).otherwise(0L)).as("n_bounce"))
        .orderBy("dow")
    },

    "priority_latency_grid" -> { (sp, dir) =>
      val li = Tables.lineitem(sp, dir)
        .groupBy("l_orderkey")
        .agg(min(unix_micros(col("l_shipdate").cast("timestamp"))).as("first_ship_us"))
      val perOrder = Tables.orders(sp, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("odate_us"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          expr(s"(first_ship_us - odate_us) div $DayUs").as("lat_days"))
        .select(col("priority"),
          when(col("lat_days") < 0, "0_early")
            .when(col("lat_days") <= 30, "1_within_30d")
            .when(col("lat_days") <= 90, "2_within_90d")
            .otherwise("3_over_90d").as("bucket"))
      val cells = perOrder.groupBy("priority", "bucket").agg(count(lit(1)).as("n_orders"))
      cells
        .withColumn("prio_total", sum("n_orders").over(Window.partitionBy("priority")))
        .select(col("priority"), col("bucket"), col("n_orders"),
          expr("n_orders * 1000 div prio_total").as("share_milli"))
        .orderBy("priority", "bucket")
    }
  )

  val oracles: Map[String, String] = Map(
    "session_duration_profile" ->
      s"""WITH ${Queries36.sessCteSql},
         |sessions AS (
         |  SELECT (min(ts_us) // $DayUs + 4) % 7 AS dow,
         |    (max(ts_us) - min(ts_us)) // 1000000 AS dur_s,
         |    CAST(count(*) AS BIGINT) AS depth, user_id, session_idx
         |  FROM sess GROUP BY user_id, session_idx
         |),
         |ranked AS (
         |  SELECT dow, dur_s, depth,
         |    row_number() OVER (PARTITION BY dow ORDER BY dur_s, user_id, session_idx)
         |      AS rk,
         |    count(*) OVER (PARTITION BY dow) AS n
         |  FROM sessions
         |)
         |SELECT CAST(dow AS BIGINT) AS dow, CAST(max(n) AS BIGINT) AS n_sessions,
         |  CAST(max(CASE WHEN rk = 1 + (50 * (n - 1)) // 100 THEN dur_s END) AS BIGINT)
         |    AS p50_s,
         |  CAST(max(CASE WHEN rk = 1 + (95 * (n - 1)) // 100 THEN dur_s END) AS BIGINT)
         |    AS p95_s,
         |  CAST(max(dur_s) AS BIGINT) AS max_s,
         |  CAST(sum(CASE WHEN depth = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce
         |FROM ranked GROUP BY 1 ORDER BY dow""".stripMargin,

    "priority_latency_grid" ->
      s"""WITH li AS (
         |  SELECT l_orderkey, min(epoch_us(l_shipdate)) AS first_ship_us
         |  FROM lineitem GROUP BY 1
         |), po AS (
         |  SELECT o_orderpriority AS priority,
         |    (first_ship_us - epoch_us(CAST(o_orderdate AS TIMESTAMP))) // $DayUs AS lat_days
         |  FROM orders JOIN li ON o_orderkey = l_orderkey
         |), b AS (
         |  SELECT priority,
         |    CASE WHEN lat_days < 0 THEN '0_early'
         |         WHEN lat_days <= 30 THEN '1_within_30d'
         |         WHEN lat_days <= 90 THEN '2_within_90d'
         |         ELSE '3_over_90d' END AS bucket
         |  FROM po
         |), cells AS (
         |  SELECT priority, bucket, CAST(count(*) AS BIGINT) AS n_orders
         |  FROM b GROUP BY 1, 2
         |)
         |SELECT priority, bucket, n_orders,
         |  CAST(n_orders * 1000 // sum(n_orders) OVER (PARTITION BY priority) AS BIGINT)
         |    AS share_milli
         |FROM cells ORDER BY priority, bucket""".stripMargin
  )
}
