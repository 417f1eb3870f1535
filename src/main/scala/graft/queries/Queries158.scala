package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.GraftFunctions
import graft.queries.IntIdioms.tdivSql

/** Round-12 batch — robust statistics + the native top-k aggregate:
  *
  *  - `theil_sen_trend`: the Theil–Sen robust slope of daily revenue —
  *    the (lower) median of all pairwise day-to-day slopes, immune to the
  *    outlier days OLS bends toward. Pairs live on the CALENDAR-bounded
  *    daily rollup (~2.4k days → ~2.9M pairs regardless of SF, so the
  *    pair join does not grow with data), and the median is exact: pairs
  *    order by (num/den as one IEEE double division — correctly rounded,
  *    so engine-identical on identical integer inputs — then num, den)
  *    and the output keeps the median pair's exact integer (num, den)
  *    alongside the truncated cents-per-day quotient.
  *  - `max_drawdown`: worst peak-to-trough fall of the DAILY revenue
  *    series (running max − current, maximized; first trough day on ties,
  *    then first day attaining that peak). Exact integer cents.
  *  - `winsorized_revenue`: per-market-segment customer-revenue means
  *    under the three textbook treatments — raw, 10%-trimmed (drop the
  *    top/bottom deciles by rank), 10%-winsorized (clamp to the decile
  *    boundary values). Rank arithmetic only, all integer cents.
  *  - `topk_native`: `topk_per_group` re-planned on the new
  *    [[graft.plans.TopKRows]] TypedImperativeAggregate and pinned
  *    VERBATIM to the window version's oracle — the BitmapDistinct
  *    pattern applied to ORDER: the rank window exchanges and sorts every
  *    row of the group; the native aggregate ships ≤ k pairs per
  *    (partition, group) through one map-side-combined shuffle. The cents
  *    sort key is order-isomorphic to the window's raw-double ordering
  *    because `events.value` is generated at 2-decimal granularity (each
  *    cent value has one double representation; Queries158Spec pins the
  *    injectivity and the row-for-row window equality).
  */
object Queries158 extends QuerySet {
  private val DayUs = 86400000000L

  /** day index + revenue cents, one row per order day (calendar-bounded). */
  private def dailyRevenue(sp: SparkSession, dir: String): DataFrame =
    Tables.orders(sp, dir)
      .groupBy(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev"))

  private val DailySql =
    s"""SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS day,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
       |  FROM orders GROUP BY 1""".stripMargin

  val defs: Map[String, Q] = Map(
    "theil_sen_trend" -> { (sp, dir) =>
      val daily = dailyRevenue(sp, dir)
      val a = daily.select(col("day").as("di"), col("rev").as("ri"))
      val b = daily.select(col("day").as("dj"), col("rev").as("rj"))
      val pairs = a.join(b, col("di") < col("dj"))
        .select((col("rj") - col("ri")).as("num"), (col("dj") - col("di")).as("den"))
        .withColumn("ratio", col("num").cast("double") / col("den").cast("double"))
      // single-partition rank over the bounded pair table (~2.9M rows at
      // ANY SF — the window does not grow with data)
      val w = Window.orderBy(col("ratio"), col("num"), col("den"))
      pairs.withColumn("rk", row_number().over(w))
        .withColumn("n_pairs", count(lit(1)).over())
        .filter(col("rk") === expr("(n_pairs + 1) div 2"))
        .select(col("n_pairs"), col("num").as("med_num_cents"), col("den").as("med_den_days"),
          expr("num div den").as("slope_cents_per_day"))
    },

    "max_drawdown" -> { (sp, dir) =>
      val daily = dailyRevenue(sp, dir)
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dd = daily
        .withColumn("peak", max("rev").over(w))
        .withColumn("drawdown", col("peak") - col("rev"))
      val trough = dd.orderBy(col("drawdown").desc, col("day")).limit(1)
        .select(col("day").as("trough_day"), col("peak").as("peak_cents"),
          col("rev").as("trough_cents"), col("drawdown").as("drawdown_cents"))
      daily.join(broadcast(trough),
          col("day") <= col("trough_day") && col("rev") === col("peak_cents"))
        .groupBy("trough_day", "peak_cents", "trough_cents", "drawdown_cents")
        .agg(min("day").as("peak_day"))
        .select(col("peak_day"), col("trough_day"), col("peak_cents"), col("trough_cents"),
          col("drawdown_cents"),
          expr("drawdown_cents * 1000 div peak_cents").as("dd_permille"))
    },

    "winsorized_revenue" -> { (sp, dir) =>
      val perCust = Tables.orders(sp, dir)
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev"))
        .join(Tables.customer(sp, dir)
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment").as("segment")),
          "o_custkey")
      val ranked = perCust
        .withColumn("rk", row_number().over(
          Window.partitionBy("segment").orderBy(col("rev"), col("o_custkey"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("segment")))
        .withColumn("k", expr("n div 10"))
      val bounds = ranked.groupBy("segment").agg(
        max(when(col("rk") === col("k") + 1, col("rev"))).as("lo"),
        max(when(col("rk") === col("n") - col("k"), col("rev"))).as("hi"))
      ranked.join(bounds, "segment")
        .groupBy("segment")
        .agg(count(lit(1)).as("n_customers"),
          expr("sum(rev) div count(1)").as("mean_cents"),
          expr("sum(CASE WHEN rk > k AND rk <= n - k THEN rev ELSE 0 END) div (max(n) - 2 * max(k))")
            .as("trimmed_mean_cents"),
          expr("sum(least(greatest(rev, lo), hi)) div count(1)").as("winsor_mean_cents"))
        .orderBy("segment")
    },

    "topk_native" -> { (sp, dir) =>
      Tables.events(sp, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("vc"), col("event_id"))
        .groupBy("event_type")
        .agg(GraftFunctions.topK(col("vc"), col("event_id"), 5).as("top"))
        .select(col("event_type"), posexplode(col("top")))
        .select(col("event_type"), (col("pos") + 1).cast("int").as("rk"),
          col("col.tie").as("event_id"), col("col.key").as("value_cents"))
        .orderBy("event_type", "rk")
    }
  )

  val oracles: Map[String, String] = Map(
    "theil_sen_trend" ->
      s"""WITH daily AS ($DailySql),
         |pairs AS (
         |  SELECT b.rev - a.rev AS num, b.day - a.day AS den,
         |    CAST(b.rev - a.rev AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS ratio
         |  FROM daily a JOIN daily b ON a.day < b.day),
         |ranked AS (
         |  SELECT num, den,
         |    row_number() OVER (ORDER BY ratio, num, den) AS rk,
         |    count(*) OVER () AS n_pairs
         |  FROM pairs)
         |SELECT CAST(n_pairs AS BIGINT) AS n_pairs, num AS med_num_cents,
         |  den AS med_den_days, ${tdivSql("num", "den")} AS slope_cents_per_day
         |FROM ranked WHERE rk = (n_pairs + 1) // 2""".stripMargin,

    "max_drawdown" ->
      s"""WITH daily AS ($DailySql),
         |dd AS (
         |  SELECT day, rev,
         |    CAST(max(rev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS peak
         |  FROM daily),
         |trough AS (
         |  SELECT day AS trough_day, peak AS peak_cents, rev AS trough_cents,
         |    peak - rev AS drawdown_cents
         |  FROM dd ORDER BY peak - rev DESC, day LIMIT 1)
         |SELECT CAST(min(d.day) AS BIGINT) AS peak_day, t.trough_day, t.peak_cents,
         |  t.trough_cents, t.drawdown_cents,
         |  t.drawdown_cents * 1000 // t.peak_cents AS dd_permille
         |FROM daily d JOIN trough t ON d.day <= t.trough_day AND d.rev = t.peak_cents
         |GROUP BY t.trough_day, t.peak_cents, t.trough_cents, t.drawdown_cents""".stripMargin,

    "winsorized_revenue" ->
      """WITH per_cust AS (
        |  SELECT o.o_custkey, c.c_mktsegment AS segment,
        |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT segment, rev,
        |    row_number() OVER (PARTITION BY segment ORDER BY rev, o_custkey) AS rk,
        |    count(*) OVER (PARTITION BY segment) AS n,
        |    count(*) OVER (PARTITION BY segment) // 10 AS k
        |  FROM per_cust),
        |bounds AS (
        |  SELECT segment,
        |    CAST(max(CASE WHEN rk = k + 1 THEN rev END) AS BIGINT) AS lo,
        |    CAST(max(CASE WHEN rk = n - k THEN rev END) AS BIGINT) AS hi
        |  FROM ranked GROUP BY segment)
        |SELECT r.segment, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(r.rev) // count(*) AS BIGINT) AS mean_cents,
        |  CAST(sum(CASE WHEN r.rk > r.k AND r.rk <= r.n - r.k THEN r.rev ELSE 0 END)
        |    // (max(r.n) - 2 * max(r.k)) AS BIGINT) AS trimmed_mean_cents,
        |  CAST(sum(least(greatest(r.rev, b.lo), b.hi)) // count(*) AS BIGINT) AS winsor_mean_cents
        |FROM ranked r JOIN bounds b ON b.segment = r.segment
        |GROUP BY r.segment ORDER BY r.segment""".stripMargin,

    // pinned VERBATIM to topk_per_group's oracle: same SQL text, but the
    // Spark side plans ONE ObjectHashAggregate shuffle instead of the
    // rank window's full-group exchange + sort
    "topk_native" ->
      """SELECT event_type, rk, event_id, CAST(round(value * 100) AS BIGINT) AS value_cents
        |FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rk
        |  FROM events
        |) t WHERE rk <= 5 ORDER BY event_type, rk""".stripMargin
  )
}
