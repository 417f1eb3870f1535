package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #48 — operations-research and finance-DQ analytics:
  *
  *  - `littles_law_audit`: Little's law (L = λ·W) over the order
  *    open-intervals. The law is an identity at the rational level —
  *    L = Σdur/T and λ·W = (N/T)·(Σdur/N) — so the audit pins the two
  *    INDEPENDENT computations of Σdur against each other: the
  *    per-order direct sum, and the boundary-sweep integral
  *    Σ conc(seg)·len(seg) from the same ±1 delta table
  *    `interval_concurrency` sweeps (Fubini: column sums == row sums).
  *    `identity_ok` = 1 is the finding; L, λ, W ride along in exact
  *    milli. The sweep window runs over the tiny aggregated day table,
  *    never the order stream.
  *  - `dup_invoice_scan`: the classic double-payment screen — order
  *    pairs by the SAME customer in the SAME $10k amount bucket within
  *    90 days. Blocked equi-join on (custkey, bucket): per-block
  *    fan-out is bounded by a customer's orders in one price bucket,
  *    never |orders|². Exact-cent matches are flagged as the
  *    high-severity tier. */
object Queries128 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "littles_law_audit" -> { (sp, dir) =>
      val perOrder = graft.util.CacheScope.track(
        Tables.lineitem(sp, dir)
          .groupBy("l_orderkey")
          .agg(max(unix_micros(col("l_shipdate").cast("timestamp"))).as("last_ship_us"))
          .join(Tables.orders(sp, dir).select(col("o_orderkey"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("order_us")),
            col("l_orderkey") === col("o_orderkey"))
          .select(expr(s"order_us div $DayUs").as("start_day"),
            expr(s"last_ship_us div $DayUs + 1").as("close_day"))
          .filter(col("close_day") > col("start_day")))
      val direct = perOrder.agg(
        count(lit(1)).as("n_orders"),
        sum(col("close_day") - col("start_day")).as("open_days_direct"),
        min("start_day").as("d0"), max("close_day").as("d1"))
      val deltas = perOrder.select(explode(array(
          struct(col("start_day").as("day"), lit(1L).as("d")),
          struct(col("close_day").as("day"), lit(-1L).as("d")))).as("x"))
        .select(col("x.day").as("day"), col("x.d").as("d"))
        .groupBy("day").agg(sum("d").as("net"))
      val wCum = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wLead = Window.orderBy("day")
      val sweep = deltas
        .withColumn("conc", sum("net").over(wCum))
        .withColumn("seg", coalesce(lead("day", 1).over(wLead) - col("day"), lit(0L)))
        .agg(sum(col("conc") * col("seg")).as("open_days_sweep"))
      direct.crossJoin(sweep)
        .withColumn("window_days", col("d1") - col("d0"))
        .select(col("n_orders"), col("window_days"),
          col("open_days_direct"), col("open_days_sweep"),
          when(col("open_days_direct") === col("open_days_sweep"), 1L)
            .otherwise(0L).as("identity_ok"),
          expr("open_days_sweep * 1000 div window_days").as("l_milli"),
          expr("n_orders * 1000 div window_days").as("lambda_milli_per_day"),
          expr("open_days_direct * 1000 div n_orders").as("w_milli_days"))
    },

    "dup_invoice_scan" -> { (sp, dir) =>
      val o = Tables.orders(sp, dir).select(
        col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("bigint").as("cents"),
        expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"))
        .withColumn("bucket", expr("cents div 1000000"))
      o.as("a").join(o.as("b"),
          col("a.o_custkey") === col("b.o_custkey")
            && col("a.bucket") === col("b.bucket")
            && col("a.o_orderkey") < col("b.o_orderkey")
            && abs(col("a.day") - col("b.day")) <= 90)
        .select(col("a.o_custkey").as("custkey"),
          col("a.o_orderkey").as("key_a"), col("b.o_orderkey").as("key_b"),
          col("a.cents").as("cents_a"), col("b.cents").as("cents_b"),
          abs(col("a.day") - col("b.day")).as("day_gap"),
          when(col("a.cents") === col("b.cents"), 1L).otherwise(0L).as("exact_amount"))
        .orderBy("custkey", "key_a", "key_b")
    }
  )

  val oracles: Map[String, String] = Map(
    "littles_law_audit" ->
      s"""WITH per_order AS (
         |  SELECT epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) // $DayUs AS start_day,
         |         l.last_ship_us // $DayUs + 1 AS close_day
         |  FROM (SELECT l_orderkey, max(epoch_us(CAST(l_shipdate AS TIMESTAMP))) AS last_ship_us
         |        FROM lineitem GROUP BY l_orderkey) l
         |  JOIN orders o ON o.o_orderkey = l.l_orderkey
         |  WHERE l.last_ship_us // $DayUs + 1
         |      > epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) // $DayUs
         |),
         |direct AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_orders,
         |    CAST(sum(close_day - start_day) AS BIGINT) AS open_days_direct,
         |    min(start_day) AS d0, max(close_day) AS d1
         |  FROM per_order
         |),
         |deltas AS (
         |  SELECT day, CAST(sum(d) AS BIGINT) AS net FROM (
         |    SELECT start_day AS day, 1 AS d FROM per_order
         |    UNION ALL
         |    SELECT close_day AS day, -1 AS d FROM per_order) u
         |  GROUP BY day
         |),
         |sweep AS (
         |  SELECT CAST(sum(conc * seg) AS BIGINT) AS open_days_sweep FROM (
         |    SELECT sum(net) OVER (ORDER BY day
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc,
         |           coalesce(lead(day) OVER (ORDER BY day) - day, 0) AS seg
         |    FROM deltas) t
         |)
         |SELECT d.n_orders, CAST(d.d1 - d.d0 AS BIGINT) AS window_days,
         |  d.open_days_direct, s.open_days_sweep,
         |  CAST(CASE WHEN d.open_days_direct = s.open_days_sweep THEN 1 ELSE 0 END AS BIGINT)
         |    AS identity_ok,
         |  CAST(s.open_days_sweep * 1000 // (d.d1 - d.d0) AS BIGINT) AS l_milli,
         |  CAST(d.n_orders * 1000 // (d.d1 - d.d0) AS BIGINT) AS lambda_milli_per_day,
         |  CAST(d.open_days_direct * 1000 // d.n_orders AS BIGINT) AS w_milli_days
         |FROM direct d, sweep s""".stripMargin,

    "dup_invoice_scan" ->
      s"""WITH o AS (
         |  SELECT o_orderkey, o_custkey,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS day
         |  FROM orders
         |)
         |SELECT a.o_custkey AS custkey,
         |  a.o_orderkey AS key_a, b.o_orderkey AS key_b,
         |  a.cents AS cents_a, b.cents AS cents_b,
         |  CAST(abs(a.day - b.day) AS BIGINT) AS day_gap,
         |  CAST(CASE WHEN a.cents = b.cents THEN 1 ELSE 0 END AS BIGINT) AS exact_amount
         |FROM o a JOIN o b
         |  ON a.o_custkey = b.o_custkey
         | AND a.cents // 1000000 = b.cents // 1000000
         | AND a.o_orderkey < b.o_orderkey
         | AND abs(a.day - b.day) <= 90
         |ORDER BY custkey, key_a, key_b""".stripMargin
  )
}
