package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-14 batch #2 — merchandising / supply-chain screens:
  *
  *  - `dead_stock_scan`: per brand, parts whose LAST shipment is more than
  *    60 days before the calendar's end — the dead-stock share and the
  *    retail value tied up in it. One per-part max-day rollup (shuffle on
  *    partkey, the join key), then a bounded 25-brand report.
  *  - `price_ladder`: per-brand price-point architecture — distinct price
  *    points, span, $10-band occupancy, and the widest empty gap between
  *    occupied bands. The gap window runs over DISTINCT (brand, band)
  *    rows: the retail-price domain is fixed (~2.1k bands), so per-brand
  *    window partitions are bounded at ANY scale factor.
  *  - `supplier_lead_variance`: order-to-ship lead-time variance per
  *    supplier (exact integer population variance), bucketed into 2-day^2
  *    bands — consistency, not just speed, ranks a supply base.
  *  - `share_of_wallet`: per customer, the top brand's share of lifetime
  *    spend, reported as a bounded 11-bucket distribution — how
  *    single-brand are the customers?
  */
object Queries187 extends QuerySet {
  private val DayUs = 86400000000L

  private def shipDay =
    expr(s"unix_micros(CAST(l_shipdate AS TIMESTAMP)) div $DayUs")

  val defs: Map[String, Q] = Map(
    "dead_stock_scan" -> { (sp, dir) =>
      val li = Tables.lineitem(sp, dir)
        .select(col("l_partkey"), shipDay.as("day"))
      val lastShip = li.groupBy("l_partkey").agg(max("day").as("last_day"))
      val horizon = lastShip.agg(max("last_day").as("end_day"))
      lastShip.crossJoin(broadcast(horizon))
        .join(Tables.part(sp, dir).select(col("p_partkey"), col("p_brand"),
          round(col("p_retailprice") * 100).cast("bigint").as("retail_cents")),
          col("l_partkey") === col("p_partkey"))
        .withColumn("dead", when(col("last_day") < col("end_day") - 60, 1L).otherwise(0L))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_parts"), sum("dead").as("n_dead"),
          sum(expr("dead * retail_cents")).as("dead_value_cents"))
        .withColumn("dead_pm", expr("n_dead * 1000 div n_parts"))
        .orderBy("p_brand")
    },

    "price_ladder" -> { (sp, dir) =>
      val pts = graft.util.CacheScope.track(
        Tables.part(sp, dir)
          .select(col("p_brand"),
            round(col("p_retailprice") * 100).cast("bigint").as("cents"))
          .withColumn("band", expr("cents div 1000")))
      // the band domain is fixed by the retail-price range, so distinct
      // (brand, band) is bounded and the per-brand gap window never grows
      // with the fact table
      val gaps = pts.select("p_brand", "band").distinct()
        .withColumn("prev", lag("band", 1).over(
          Window.partitionBy("p_brand").orderBy("band")))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("occupied_bands"),
          max(expr("coalesce(band - prev - 1, 0)")).as("max_gap_bands"))
      val stats = pts.groupBy("p_brand")
        .agg(countDistinct("cents").as("n_points"),
          min("cents").as("min_cents"), max("cents").as("max_cents"))
      stats.join(gaps, "p_brand")
        .withColumn("coverage_pm",
          expr("occupied_bands * 1000 div ((max_cents - min_cents) div 1000 + 1)"))
        .select("p_brand", "n_points", "min_cents", "max_cents",
          "occupied_bands", "max_gap_bands", "coverage_pm")
        .orderBy("p_brand")
    },

    "supplier_lead_variance" -> { (sp, dir) =>
      val leads = Tables.lineitem(sp, dir)
        .select(col("l_orderkey"), col("l_suppkey"), shipDay.as("ship_day"))
        .join(Tables.orders(sp, dir).select(col("o_orderkey"),
          expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("order_day")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey"), expr("ship_day - order_day").as("lead"))
      leads.groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"), sum("lead").as("s"),
          sum(expr("lead * lead")).as("q"))
        .select(col("l_suppkey"),
          expr("(n * q - s * s) * 1000 div (n * n)").as("var_milli"),
          expr("s * 1000 div n").as("mean_lead_milli"))
        .withColumn("var_band", expr("var_milli div 2000"))
        .groupBy("var_band")
        .agg(count(lit(1)).as("n_suppliers"),
          expr("sum(mean_lead_milli) div count(1)").as("avg_mean_lead_milli"))
        .orderBy("var_band")
    },

    "share_of_wallet" -> { (sp, dir) =>
      val spend = Tables.lineitem(sp, dir)
        .select(col("l_orderkey"), col("l_partkey"),
          round(col("l_extendedprice") * 100).cast("bigint").as("cents"))
        .join(Tables.orders(sp, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.part(sp, dir).select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("o_custkey", "p_brand").agg(sum("cents").as("brand_cents"))
      spend.groupBy("o_custkey")
        .agg(sum("brand_cents").as("total_cents"), max("brand_cents").as("top_cents"))
        .select(expr("top_cents * 1000 div total_cents").as("share_pm"))
        .withColumn("bucket", expr("share_pm div 100"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_customers"),
          expr("sum(share_pm) div count(1)").as("avg_share_pm"))
        .orderBy("bucket")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "dead_stock_scan" ->
      s"""WITH last_ship AS (
         |  SELECT l_partkey,
         |    CAST(max(epoch_us(CAST(l_shipdate AS TIMESTAMP)) // $DayUs) AS BIGINT) AS last_day
         |  FROM lineitem GROUP BY 1),
         |h AS (SELECT max(last_day) AS end_day FROM last_ship)
         |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
         |  CAST(sum(dead) AS BIGINT) AS n_dead,
         |  CAST(sum(dead * retail_cents) AS BIGINT) AS dead_value_cents,
         |  CAST(sum(dead) * 1000 // count(*) AS BIGINT) AS dead_pm
         |FROM (
         |  SELECT p_brand, CAST(round(p_retailprice * 100) AS BIGINT) AS retail_cents,
         |    CASE WHEN last_day < end_day - 60 THEN 1 ELSE 0 END AS dead
         |  FROM last_ship CROSS JOIN h
         |  JOIN part ON l_partkey = p_partkey) t
         |GROUP BY 1 ORDER BY p_brand""".stripMargin,

    "price_ladder" ->
      s"""WITH pts AS (
         |  SELECT p_brand, CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
         |    CAST(round(p_retailprice * 100) AS BIGINT) // 1000 AS band
         |  FROM part),
         |gaps AS (
         |  SELECT p_brand, CAST(count(*) AS BIGINT) AS occupied_bands,
         |    CAST(max(coalesce(band - prev - 1, 0)) AS BIGINT) AS max_gap_bands
         |  FROM (
         |    SELECT p_brand, band,
         |      lag(band) OVER (PARTITION BY p_brand ORDER BY band) AS prev
         |    FROM (SELECT DISTINCT p_brand, band FROM pts) d) w
         |  GROUP BY 1),
         |stats AS (
         |  SELECT p_brand, CAST(count(DISTINCT cents) AS BIGINT) AS n_points,
         |    CAST(min(cents) AS BIGINT) AS min_cents,
         |    CAST(max(cents) AS BIGINT) AS max_cents
         |  FROM pts GROUP BY 1)
         |SELECT p_brand, n_points, min_cents, max_cents, occupied_bands, max_gap_bands,
         |  CAST(occupied_bands * 1000 // ((max_cents - min_cents) // 1000 + 1) AS BIGINT)
         |    AS coverage_pm
         |FROM stats JOIN gaps USING (p_brand) ORDER BY p_brand""".stripMargin,

    "supplier_lead_variance" ->
      s"""WITH leads AS (
         |  SELECT l_suppkey,
         |    epoch_us(CAST(l_shipdate AS TIMESTAMP)) // $DayUs
         |      - epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS lead
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |per_s AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(lead) AS BIGINT) AS s, CAST(sum(lead * lead) AS BIGINT) AS q
         |  FROM leads GROUP BY 1),
         |v AS (
         |  SELECT (n * q - s * s) * 1000 // (n * n) AS var_milli,
         |    s * 1000 // n AS mean_lead_milli
         |  FROM per_s)
         |SELECT CAST(var_milli // 2000 AS BIGINT) AS var_band,
         |  CAST(count(*) AS BIGINT) AS n_suppliers,
         |  CAST(sum(mean_lead_milli) // count(*) AS BIGINT) AS avg_mean_lead_milli
         |FROM v GROUP BY 1 ORDER BY var_band""".stripMargin,

    "share_of_wallet" ->
      s"""WITH spend AS (
         |  SELECT o_custkey, p_brand,
         |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS brand_cents
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN part ON l_partkey = p_partkey
         |  GROUP BY 1, 2),
         |per_c AS (
         |  SELECT sum(brand_cents) AS total_cents, max(brand_cents) AS top_cents
         |  FROM spend GROUP BY o_custkey)
         |SELECT CAST(share_pm // 100 AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_customers,
         |  CAST(sum(share_pm) // count(*) AS BIGINT) AS avg_share_pm
         |FROM (SELECT top_cents * 1000 // total_cents AS share_pm FROM per_c) t
         |GROUP BY 1 ORDER BY bucket""".stripMargin
  )
}
