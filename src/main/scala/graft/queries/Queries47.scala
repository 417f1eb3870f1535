package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.IntIdioms.nearestRank

/** Round-8 continuation #19 — temporal operations analytics:
  *
  *  - `order_latency`: order-fulfillment latency percentiles per priority
  *    class (order date → first ship, plus the first-to-last-ship span) —
  *    the supply-chain SLA report over the TPC-H schema; one (order)
  *    aggregation, then exact rank-arithmetic percentiles over the
  *    per-order table.
  *  - `seasonal_baseline`: hour-of-week seasonal anomaly detection — each
  *    (event_type, week, hour-of-week) cell compared against the median of
  *    the SAME hour-of-week across weeks (`volume_anomaly`'s 1.5× rule,
  *    but seasonally adjusted: a Monday-9am spike is judged against
  *    Monday-9am history, not against the whole day mix).
  */
object Queries47 extends QuerySet {
  private val DayUs = 86400000000L
  private val HourUs = 3600000000L
  private val WeekUs = 7L * DayUs

  val defs: Map[String, Q] = Map(
    "order_latency" -> { (sp, dir) =>
      val perOrder = Tables.lineitem(sp, dir)
        .groupBy("l_orderkey")
        .agg(min(unix_micros(col("l_shipdate").cast("timestamp"))).as("first_ship_us"),
          max(unix_micros(col("l_shipdate").cast("timestamp"))).as("last_ship_us"))
        .join(Tables.orders(sp, dir).select(col("o_orderkey"), col("o_orderpriority"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("order_us")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          expr(s"(first_ship_us - order_us) div $DayUs").as("lat_days"),
          expr(s"(last_ship_us - first_ship_us) div $DayUs").as("span_days"))
      val w = Window.partitionBy("o_orderpriority").orderBy(col("lat_days"), col("o_orderkey"))
      val ranked = perOrder
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("o_orderpriority")))
      ranked.groupBy("o_orderpriority")
        .agg(max("n").as("n_orders"), nearestRank(50, col("lat_days")).as("p50_days"),
          nearestRank(95, col("lat_days")).as("p95_days"),
          max("lat_days").as("max_days"), max("span_days").as("max_span_days"))
        .orderBy("o_orderpriority")
    },

    "seasonal_baseline" -> { (sp, dir) =>
      val cells = Tables.events(sp, dir)
        .select(col("event_type"),
          expr(s"ts_us div $WeekUs").as("week"),
          expr(s"(ts_us div $HourUs) % 168").as("how"))
        .groupBy("event_type", "week", "how")
        .agg(count(lit(1)).as("cnt"))
      val wOrd = Window.partitionBy("event_type", "how").orderBy("cnt", "week")
      val wSeason = Window.partitionBy("event_type", "how")
      cells
        .withColumn("rk", row_number().over(wOrd))
        .withColumn("n", count(lit(1)).over(wSeason))
        .withColumn("baseline",
          max(when(col("rk") === lit(1) + expr("(50 * (n - 1)) div 100"), col("cnt")))
            .over(wSeason))
        .select(col("event_type"), col("week"), col("how"), col("cnt"), col("baseline"),
          when(col("cnt") * 2 >= col("baseline") * 3, 1L).otherwise(0L).as("anomaly"))
        .orderBy("event_type", "week", "how")
    }
  )

  val oracles: Map[String, String] = Map(
    "order_latency" ->
      s"""WITH per_order AS (
         |  SELECT o.o_orderkey, o.o_orderpriority,
         |    (min(epoch_us(l.l_shipdate)) - min(epoch_us(o.o_orderdate))) // $DayUs AS lat_days,
         |    (max(epoch_us(l.l_shipdate)) - min(epoch_us(l.l_shipdate))) // $DayUs AS span_days
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  GROUP BY o.o_orderkey, o.o_orderpriority
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
         |      ORDER BY lat_days, o_orderkey) AS rk,
         |    count(*) OVER (PARTITION BY o_orderpriority) AS n
         |  FROM per_order
         |)
         |SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n_orders,
         |  max(CASE WHEN rk = 1 + (50 * (n - 1)) // 100 THEN lat_days END) AS p50_days,
         |  max(CASE WHEN rk = 1 + (95 * (n - 1)) // 100 THEN lat_days END) AS p95_days,
         |  max(lat_days) AS max_days, max(span_days) AS max_span_days
         |FROM ranked GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "seasonal_baseline" ->
      s"""WITH cells AS (
         |  SELECT event_type, epoch_us(ts) // $WeekUs AS week,
         |    (epoch_us(ts) // $HourUs) % 168 AS how,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1, 2, 3
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY event_type, how ORDER BY cnt, week) AS rk,
         |    count(*) OVER (PARTITION BY event_type, how) AS n
         |  FROM cells
         |),
         |based AS (
         |  SELECT *, max(CASE WHEN rk = 1 + (50 * (n - 1)) // 100 THEN cnt END)
         |    OVER (PARTITION BY event_type, how) AS baseline
         |  FROM ranked
         |)
         |SELECT event_type, week, how, cnt, baseline,
         |  CAST(CASE WHEN cnt * 2 >= baseline * 3 THEN 1 ELSE 0 END AS BIGINT) AS anomaly
         |FROM based ORDER BY event_type, week, how""".stripMargin
  )
}
