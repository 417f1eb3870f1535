package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-14 batch #9 — order-book economics:
  *
  *  - `balance_activity_profile`: account-balance band (fixed TPC-H
  *    [-1000, 10000) bands — no global sort, scale-free cut points) vs
  *    order activity and revenue per customer; do delinquent accounts
  *    still buy?
  *  - `seasonal_strength`: day-of-week explained variance share of daily
  *    order revenue (SSB/SST in identical integer-milli spellings on both
  *    engines; daily revenue quantized to $10k units so every square stays
  *    inside BIGINT at bench SFs) — how much of the revenue series is pure
  *    weekday pattern.
  *  - `supplier_return_screen`: suppliers whose return-flag share runs
  *    >1.1× the corpus rate (cross-multiplied exact, min 20 lines) —
  *    the QC escalation list.
  */
object Queries194 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "balance_activity_profile" -> { (sp, dir) =>
      val cust = Tables.customer(sp, dir).select(col("c_custkey"),
        when(col("c_acctbal") < 0, "a_delinquent")
          .when(col("c_acctbal") < 2500, "b_low")
          .when(col("c_acctbal") < 5000, "c_mid")
          .when(col("c_acctbal") < 7500, "d_high")
          .otherwise("e_top").as("band"))
      val perCust = Tables.orders(sp, dir)
        .select(col("o_custkey"), round(col("o_totalprice") * 100).cast("bigint").as("cents"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("rev_cents"))
      cust.join(perCust, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("band")
        .agg(count(lit(1)).as("n_customers"),
          sum(coalesce(col("n_orders"), lit(0L))).as("n_orders"),
          sum(coalesce(col("rev_cents"), lit(0L))).as("rev_cents"))
        .select(col("band"), col("n_customers"), col("n_orders"),
          expr("n_orders * 1000 div n_customers").as("orders_per_cust_milli"),
          expr("rev_cents div n_customers").as("rev_per_cust_cents"))
        .orderBy("band")
    },

    "seasonal_strength" -> { (sp, dir) =>
      val daily = Tables.orders(sp, dir)
        .groupBy(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"))
        .agg(expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) div 1000000 AS BIGINT)")
          .as("x"))
        .withColumn("dow", expr("(day + 4) % 7"))
      val byDow = daily.groupBy("dow")
        .agg(count(lit(1)).as("n_g"), sum("x").as("s_g"))
      val tot = daily.agg(count(lit(1)).as("n"), sum("x").as("s"),
        sum(expr("x * x")).as("q"))
      byDow.agg(sum(expr("s_g * s_g * 1000 div n_g")).as("ssb_part"))
        .crossJoin(broadcast(tot))
        .select(col("n").as("n_days"),
          expr("ssb_part - s * s * 1000 div n").as("ssb_milli"),
          expr("1000 * q - s * s * 1000 div n").as("sst_milli"))
        .withColumn("strength_milli",
          expr("ssb_milli * 1000 div greatest(sst_milli, 1)"))
    },

    "supplier_return_screen" -> { (sp, dir) =>
      val li = graft.util.CacheScope.track(Tables.lineitem(sp, dir)
        .select(col("l_suppkey"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret")))
      val per = li.groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_lines"), sum("ret").as("n_returned"))
      val glob = li.agg(count(lit(1)).as("gn"), sum("ret").as("gr"))
      per.crossJoin(broadcast(glob))
        .filter(col("n_lines") >= 20)
        // rate > 1.1x global, compared exactly: 10*n_ret*gn > 11*gr*n_lines
        .filter(expr("10 * n_returned * gn > 11 * gr * n_lines"))
        .select(col("l_suppkey"), col("n_lines"), col("n_returned"),
          expr("n_returned * 1000 div n_lines").as("return_pm"),
          expr("gr * 1000 div gn").as("global_pm"))
        .orderBy("l_suppkey")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "balance_activity_profile" ->
      s"""WITH cust AS (
         |  SELECT c_custkey,
         |    CASE WHEN c_acctbal < 0 THEN 'a_delinquent'
         |         WHEN c_acctbal < 2500 THEN 'b_low'
         |         WHEN c_acctbal < 5000 THEN 'c_mid'
         |         WHEN c_acctbal < 7500 THEN 'd_high'
         |         ELSE 'e_top' END AS band
         |  FROM customer),
         |pc AS (
         |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
         |  FROM orders GROUP BY 1),
         |g AS (
         |  SELECT band, CAST(count(*) AS BIGINT) AS n_customers,
         |    CAST(sum(coalesce(n_orders, 0)) AS BIGINT) AS n_orders,
         |    CAST(sum(coalesce(rev_cents, 0)) AS BIGINT) AS rev_cents
         |  FROM cust LEFT JOIN pc ON c_custkey = o_custkey GROUP BY 1)
         |SELECT band, n_customers, n_orders,
         |  CAST(n_orders * 1000 // n_customers AS BIGINT) AS orders_per_cust_milli,
         |  CAST(rev_cents // n_customers AS BIGINT) AS rev_per_cust_cents
         |FROM g ORDER BY band""".stripMargin,

    "seasonal_strength" ->
      s"""WITH daily AS (
         |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS day,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 1000000 AS BIGINT) AS x
         |  FROM orders GROUP BY 1),
         |d2 AS (SELECT x, (day + 4) % 7 AS dow FROM daily),
         |bd AS (
         |  SELECT dow, CAST(count(*) AS BIGINT) AS n_g, CAST(sum(x) AS BIGINT) AS s_g
         |  FROM d2 GROUP BY 1),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
         |    CAST(sum(x * x) AS BIGINT) AS q FROM d2),
         |parts AS (
         |  SELECT CAST(sum(s_g * s_g * 1000 // n_g) AS BIGINT) AS ssb_part FROM bd)
         |SELECT n AS n_days,
         |  CAST(ssb_part - s * s * 1000 // n AS BIGINT) AS ssb_milli,
         |  CAST(1000 * q - s * s * 1000 // n AS BIGINT) AS sst_milli,
         |  CAST((ssb_part - s * s * 1000 // n) * 1000
         |    // greatest(1000 * q - s * s * 1000 // n, 1) AS BIGINT) AS strength_milli
         |FROM parts CROSS JOIN tot""".stripMargin,

    "supplier_return_screen" ->
      s"""WITH li AS (
         |  SELECT l_suppkey, CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
         |  FROM lineitem),
         |per AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_lines,
         |    CAST(sum(ret) AS BIGINT) AS n_returned
         |  FROM li GROUP BY 1),
         |g AS (SELECT CAST(count(*) AS BIGINT) AS gn, CAST(sum(ret) AS BIGINT) AS gr FROM li)
         |SELECT l_suppkey, n_lines, n_returned,
         |  CAST(n_returned * 1000 // n_lines AS BIGINT) AS return_pm,
         |  CAST(gr * 1000 // gn AS BIGINT) AS global_pm
         |FROM per CROSS JOIN g
         |WHERE n_lines >= 20 AND 10 * n_returned * gn > 11 * gr * n_lines
         |ORDER BY l_suppkey""".stripMargin
  )
}
