package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.IntIdioms.tdivSql

/** Round-9 batch #50 — classical time-series decomposition over the daily
  * revenue series (both run on the ~2.4k-row day-grain aggregate, the
  * one shuffle being the day rollup — the documented bounded-series
  * contract of holt_forecast / interval_concurrency):
  *
  *  - `stl_decompose`: the additive STL-style decomposition, exact:
  *    trend = centered 7-day moving mean (integer div, only where the
  *    full window exists — edges stay null rather than biased),
  *    seasonal = per-day-of-week mean of the detrended series
  *    (truncating integer division), residual = what's left, so
  *    rev = trend + seasonal + resid EXACTLY on every interior day
  *    (the revenue_bridge closure discipline). The residual variance
  *    vs the detrended variance is the seasonal-strength read the
  *    spec pins (Hyndman's F_s > 0 iff the weekly cycle is real).
  *  - `resample_ohlc`: the financial downsample — weekly
  *    open/high/low/close/volume candles from the daily series via
  *    `min_by`/`max_by` (day keys are unique, so candles are
  *    deterministic); the aggregation-invariants (low ≤ open,close ≤
  *    high; volume conservation) are spec'd. */
object Queries130 extends QuerySet {
  private val DayUs = 86400000000L

  private def daily(sp: SparkSession, dir: String): DataFrame =
    Tables.orders(sp, dir)
      .select(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"),
        round(col("o_totalprice") * 100).cast("bigint").as("cents"))
      .groupBy("day").agg(sum("cents").as("rev_cents"))

  private val DailySql =
    s"""daily AS (
       |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS day,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
       |  FROM orders GROUP BY 1
       |)""".stripMargin

  val defs: Map[String, Q] = Map(
    "stl_decompose" -> { (sp, dir) =>
      val w7 = Window.orderBy("day").rowsBetween(-3, 3)
      val trended = daily(sp, dir)
        .withColumn("n7", count(lit(1)).over(w7))
        .withColumn("s7", sum("rev_cents").over(w7))
        .withColumn("trend_cents", when(col("n7") === 7, expr("s7 div 7")))
        .withColumn("dow", expr("day % 7"))
        .withColumn("detrended", col("rev_cents") - col("trend_cents"))
        .drop("n7", "s7")
      val tC = graft.util.CacheScope.track(trended)
      val seasonal = tC.filter(col("detrended").isNotNull)
        .groupBy("dow")
        .agg(sum("detrended").as("sd"), count(lit(1)).as("nd"))
        .select(col("dow"), expr("sd div nd").as("seasonal_cents"))
      tC.join(broadcast(seasonal), Seq("dow"))
        .select(col("day"), col("dow"), col("rev_cents"), col("trend_cents"),
          col("seasonal_cents"),
          (col("rev_cents") - col("trend_cents") - col("seasonal_cents")).as("resid_cents"))
        .orderBy("day")
    },

    "resample_ohlc" -> { (sp, dir) =>
      daily(sp, dir)
        .groupBy(expr("day div 7").as("week"))
        .agg(count(lit(1)).as("n_days"),
          expr("min_by(rev_cents, day)").as("open_cents"),
          max("rev_cents").as("high_cents"),
          min("rev_cents").as("low_cents"),
          expr("max_by(rev_cents, day)").as("close_cents"),
          sum("rev_cents").as("volume_cents"))
        .orderBy("week")
    }
  )

  val oracles: Map[String, String] = Map(
    "stl_decompose" ->
      s"""WITH $DailySql,
         |trended AS (
         |  SELECT day, day % 7 AS dow, rev_cents,
         |    CASE WHEN count(*) OVER w = 7
         |         THEN CAST(sum(rev_cents) OVER w // 7 AS BIGINT) END AS trend_cents
         |  FROM daily
         |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
         |),
         |seasonal AS (
         |  SELECT dow, ${tdivSql("CAST(sum(rev_cents - trend_cents) AS BIGINT)",
             "CAST(count(*) AS BIGINT)")} AS seasonal_cents
         |  FROM trended WHERE trend_cents IS NOT NULL GROUP BY dow
         |)
         |SELECT t.day, CAST(t.dow AS BIGINT) AS dow, t.rev_cents, t.trend_cents,
         |  s.seasonal_cents,
         |  t.rev_cents - t.trend_cents - s.seasonal_cents AS resid_cents
         |FROM trended t JOIN seasonal s ON s.dow = t.dow
         |ORDER BY t.day""".stripMargin,

    "resample_ohlc" ->
      s"""WITH $DailySql
         |SELECT day // 7 AS week, CAST(count(*) AS BIGINT) AS n_days,
         |  min_by(rev_cents, day) AS open_cents,
         |  max(rev_cents) AS high_cents,
         |  min(rev_cents) AS low_cents,
         |  max_by(rev_cents, day) AS close_cents,
         |  CAST(sum(rev_cents) AS BIGINT) AS volume_cents
         |FROM daily GROUP BY 1 ORDER BY week""".stripMargin
  )
}
