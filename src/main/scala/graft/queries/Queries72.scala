package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #44 — sketch sizing and order aging:
  *
  *  - `kmv_size_tradeoff`: the k-sizing curve for the KMV distinct sketch
  *    (the `minhash_band_sweep` discipline applied to cardinality
  *    estimation): per event type and k ∈ {8, 16, 32, 64}, the estimate
  *    from the k smallest hashes next to the exact count and the signed
  *    milli error — measured on this corpus from ONE ranked-hash pass
  *    (all four sketches read the same row_number window; a bigger k
  *    only keeps more rows). Shares `distinct_kmv`'s hash universe and
  *    estimator verbatim, so the trade-off table cannot drift from the
  *    production sketch.
  *  - `orders_open_aging`: the open-order aging report at the snapshot
  *    day (the last order date — the "as of close of bookings" view a
  *    completed history supports): orders whose last ship falls strictly
  *    after the snapshot are open, bucketed 0–30 / 31–90 / 90+ days old
  *    with order-value mass — the working-capital view of
  *    `interval_concurrency`'s open set; one per-order aggregation,
  *    3-row output.
  */
object Queries72 extends QuerySet {
  private val Ks = Seq(8, 16, 32, 64)
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "kmv_size_tradeoff" -> { (sp, dir) =>
      import Queries28.{HashMod, kmvHashed}
      val hashed = graft.util.CacheScope.track(
        kmvHashed(Tables.events(sp, dir)).distinct())
      val exact = hashed.groupBy("event_type").agg(count(lit(1)).as("n_exact"))
      val ranked = hashed
        .withColumn("rk", row_number().over(
          Window.partitionBy("event_type").orderBy("h")))
        .filter(col("rk") <= Ks.max)
      val curve = Ks.map { k =>
        ranked.filter(col("rk") <= k)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_kept"), max(when(col("rk") === k, col("h"))).as("h_k"))
          .select(col("event_type"), lit(k.toLong).as("k"), col("n_kept"),
            when(col("n_kept") < k, col("n_kept"))
              .otherwise(expr(s"(($k - 1) * ${HashMod}L) div h_k")).as("est"))
      }.reduce(_ unionAll _)
      curve.join(broadcast(exact), Seq("event_type"))
        .select(col("event_type"), col("k"), col("n_exact"), col("est"),
          expr("(est - n_exact) * 1000 div n_exact").as("err_milli"))
        .orderBy("event_type", "k")
    },

    "orders_open_aging" -> { (sp, dir) =>
      val perOrder = Tables.lineitem(sp, dir)
        .groupBy("l_orderkey")
        .agg(max(unix_micros(col("l_shipdate").cast("timestamp"))).as("last_ship_us"))
        .join(Tables.orders(sp, dir).select(col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("order_us"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents")),
          col("l_orderkey") === col("o_orderkey"))
      val wm = perOrder.agg(max(expr(s"order_us div $DayUs")).as("wm_day"))
      perOrder.crossJoin(broadcast(wm))
        .select(expr(s"order_us div $DayUs").as("start_day"),
          expr(s"last_ship_us div $DayUs").as("ship_day"), col("cents"), col("wm_day"))
        // open = ordered but not fully shipped as of the watermark; the
        // inverted synth intervals (ship before order) are excluded as in
        // interval_concurrency
        .filter(col("ship_day") >= col("start_day") && col("ship_day") > col("wm_day"))
        .withColumn("age_days", col("wm_day") - col("start_day"))
        .groupBy(when(col("age_days") <= 30, "0_30")
          .when(col("age_days") <= 90, "31_90")
          .otherwise("91_plus").as("age_bucket"))
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("value_cents"),
          max("age_days").as("max_age_days"))
        .orderBy("age_bucket")
    }
  )

  val oracles: Map[String, String] = Map(
    "kmv_size_tradeoff" -> {
      val h = Queries28.rollingHashSql("kk").replace("\n", " ")
      val unions = Ks.map { k =>
        s"""SELECT event_type, CAST($k AS BIGINT) AS k,
           |  CAST(count(*) AS BIGINT) AS n_kept,
           |  CAST(CASE WHEN count(*) < $k THEN count(*)
           |       ELSE (CAST(${k - 1} AS BIGINT) * ${Queries28.HashMod}) //
           |            max(CASE WHEN rk = $k THEN h END) END AS BIGINT) AS est
           |FROM ranked WHERE rk <= $k GROUP BY event_type""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH keys AS (
         |  SELECT event_type,
         |    concat(CAST(user_id AS VARCHAR), ':', CAST(epoch_us(ts) // 86400000000 AS VARCHAR)) AS kk
         |  FROM events
         |),
         |hashed AS (SELECT DISTINCT event_type, $h AS h FROM keys),
         |exact AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM hashed GROUP BY event_type
         |),
         |ranked AS (
         |  SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
         |  FROM hashed
         |),
         |curve AS (
         |$unions
         |)
         |SELECT c.event_type, c.k, e.n_exact, c.est,
         |  CAST((c.est - e.n_exact) * 1000 // e.n_exact AS BIGINT) AS err_milli
         |FROM curve c JOIN exact e USING (event_type)
         |ORDER BY event_type, k""".stripMargin
    },

    "orders_open_aging" ->
      s"""WITH per_order AS (
         |  SELECT o.o_orderkey,
         |    min(epoch_us(o.o_orderdate)) // $DayUs AS start_day,
         |    max(epoch_us(l.l_shipdate)) // $DayUs AS ship_day,
         |    CAST(min(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |  GROUP BY o.o_orderkey
         |),
         |wm AS (SELECT max(start_day) AS wm_day FROM per_order),
         |open_orders AS (
         |  SELECT p.*, w.wm_day, w.wm_day - p.start_day AS age_days
         |  FROM per_order p, wm w
         |  WHERE p.ship_day >= p.start_day AND p.ship_day > w.wm_day
         |)
         |SELECT CASE WHEN age_days <= 30 THEN '0_30'
         |            WHEN age_days <= 90 THEN '31_90'
         |            ELSE '91_plus' END AS age_bucket,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(cents) AS BIGINT) AS value_cents,
         |  CAST(max(age_days) AS BIGINT) AS max_age_days
         |FROM open_orders GROUP BY 1 ORDER BY age_bucket""".stripMargin
  )
}
