package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.IntIdioms.cents

/** SURVEY §2.C — OLAP / event-analytics queries over the TPC-H-ish corpus.
  *
  * Money math is done in integer cents (exact, associative, identical across
  * engines); timestamps are compared as epoch micros/nanos BIGINTs.
  * Small dimensions are broadcast explicitly; the only shuffles are the
  * aggregations/joins that genuinely need them.
  */
object AnalyticsQueries extends QuerySet {
  val defs: Map[String, Q] = Map(
    "q1_pricing" -> ((sp, dir) =>
      Tables.lineitem(sp, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .select(
          col("l_returnflag"), col("l_linestatus"),
          col("l_quantity"),
          cents(col("l_extendedprice")).as("ep_cents"),
          cents(col("l_discount")).as("disc_cents"),
          cents(col("l_tax")).as("tax_cents")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("bigint")).as("sum_qty"),
          sum(col("ep_cents")).as("sum_base_cents"),
          sum(col("ep_cents") * (lit(100L) - col("disc_cents"))).as("sum_disc_price_e4"),
          sum(col("ep_cents") * (lit(100L) - col("disc_cents")) * (lit(100L) + col("tax_cents"))).as("sum_charge_e6"),
          count(lit(1)).as("count_order")
        )
        .orderBy("l_returnflag", "l_linestatus")),

    "q3_shipping" -> { (sp, dir) =>
      val cust = broadcast(Tables.customer(sp, dir).filter(col("c_mktsegment") === "BUILDING"))
      val ord = Tables.orders(sp, dir).filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      val li = Tables.lineitem(sp, dir).filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("revenue_e4"))
        .select(
          col("l_orderkey"),
          col("revenue_e4"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"),
          col("o_orderpriority"))
        .orderBy(col("revenue_e4").desc, col("l_orderkey"))
        .limit(10)
    },

    "q5_local_supplier" -> { (sp, dir) =>
      val region = broadcast(Tables.region(sp, dir).filter(col("r_name") === "ASIA"))
      val nation = broadcast(Tables.nation(sp, dir))
      val cust = Tables.customer(sp, dir)
      val supp = broadcast(Tables.supplier(sp, dir))
      val ord = Tables.orders(sp, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val li = Tables.lineitem(sp, dir)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(nation, col("s_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("revenue_e4"))
        .orderBy(col("revenue_e4").desc, col("n_name"))
    },

    "sessionize" -> { (sp, dir) =>
      // gap-based sessionization: one shuffle by user_id, then pure window math
      val ev = Tables.events(sp, dir)
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val gapUs = 30L * 60 * 1000 * 1000
      ev.withColumn("prev_ts", lag("ts_us", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapUs, lit(1)).otherwise(lit(0)))
        .withColumn("session_idx", sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(
          count(lit(1)).as("n_events"),
          min("ts_us").as("start_us"),
          max("ts_us").as("end_us"))
        .orderBy("user_id", "session_idx")
    },

    "funnel_counts" -> { (sp, dir) =>
      Tables.events(sp, dir)
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"))
        .groupBy((col("n_view") > 0).as("has_view"), (col("n_click") > 0).as("has_click"),
          (col("n_purchase") > 0).as("has_purchase"))
        .agg(count(lit(1)).as("n_users"), sum("n_purchase").as("total_purchases"))
        .orderBy("has_view", "has_click", "has_purchase")
    },

    "windowed_agg" -> { (sp, dir) =>
      Tables.events(sp, dir)
        .groupBy(expr("ts_us div 3600000000").as("hour_bucket"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(round(col("value") * 100).cast("bigint")).as("sum_value_cents"))
        .orderBy("hour_bucket", "event_type")
    },

    "topk_per_group" -> { (sp, dir) =>
      val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id"))
      Tables.events(sp, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("event_type"), col("rk"), col("event_id"),
          round(col("value") * 100).cast("bigint").as("value_cents"))
        .orderBy("event_type", "rk")
    },

    "json_props_extract" -> { (sp, dir) =>
      Tables.events(sp, dir)
        .select(get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .orderBy("k")
    }
  )

  val oracles: Map[String, String] = Map(
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(ep_cents) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(ep_cents * (100 - disc_cents)) AS BIGINT) AS sum_disc_price_e4,
        |  CAST(sum(ep_cents * (100 - disc_cents) * (100 + tax_cents)) AS BIGINT) AS sum_charge_e6,
        |  count(*) AS count_order
        |FROM (
        |  SELECT l_returnflag, l_linestatus, l_quantity,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS ep_cents,
        |    CAST(round(l_discount * 100) AS BIGINT) AS disc_cents,
        |    CAST(round(l_tax * 100) AS BIGINT) AS tax_cents
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |) t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q3_shipping" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |    AS BIGINT) AS revenue_e4,
        |  epoch_us(o_orderdate) AS o_orderdate_us,
        |  o_orderpriority
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue_e4 DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |    AS BIGINT) AS revenue_e4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue_e4 DESC, n_name""".stripMargin,

    "sessionize" ->
      """SELECT user_id, session_idx, count(*) AS n_events, min(ts_us) AS start_us, max(ts_us) AS end_us
        |FROM (
        |  SELECT user_id, ts_us,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM (
        |    SELECT user_id, event_id, ts_us,
        |      CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000 THEN 1 ELSE 0 END AS new_session
        |    FROM (
        |      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |        lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_ts
        |      FROM events
        |    ) a
        |  ) b
        |) c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "funnel_counts" ->
      """SELECT has_view, has_click, has_purchase, count(*) AS n_users, CAST(sum(n_purchase) AS BIGINT) AS total_purchases
        |FROM (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0 AS has_view,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) > 0 AS has_click,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purchase,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0 AS has_purchase
        |  FROM events GROUP BY user_id
        |) t GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "windowed_agg" ->
      """SELECT epoch_us(ts) // 3600000000 AS hour_bucket, event_type,
        |  count(*) AS cnt, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "topk_per_group" ->
      """SELECT event_type, rk, event_id, CAST(round(value * 100) AS BIGINT) AS value_cents
        |FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rk
        |  FROM events
        |) t WHERE rk <= 5 ORDER BY event_type, rk""".stripMargin,

    "json_props_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
