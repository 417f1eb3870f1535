package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-15 batch #2 — k-group nonparametric / robust-spread screens and
  * forecast-skill evaluation, all in exact integer arithmetic over
  * BOUNDED value histograms (the ks_two_sample class: the only
  * single-partition windows run over the fixed price/calendar RANGE, never
  * a row-proportional domain):
  *
  *  - `kruskal_wallis`: the k-group rank test's exact sufficient
  *    statistics over order value (whole dollars) by order priority.
  *    Midrank ties are kept integral by DOUBLING (2·midrank = 2·cum_before
  *    + cnt + 1, mann_whitney's device, generalized to k groups): per
  *    group the doubled rank sum `r2` and `meanrank_micro = r2·5e5 div n`
  *    are exact BIGINTs on both engines. The H statistic is a driver-side
  *    scalar fold over these k rows (k = 5 priorities) — emitted pieces
  *    are the exact inputs, so the verdict is reproducible to the bit.
  *  - `brown_forsythe_spread`: the Brown–Forsythe (median-centered Levene)
  *    spread table — per-group LOWER median from the cumulative value
  *    histogram (deterministic on ties, identical spelling both engines),
  *    then the exact integer sum of absolute deviations and its milli
  *    mean. Flags variance heterogeneity across priorities before any
  *    equal-variance test is trusted.
  *  - `theil_u_forecast`: Theil's U² — drift-model vs naive squared error
  *    on daily revenue, quantized to $10k units BEFORE squaring (the r14
  *    overflow rule: TPC-H daily revenue squares overflow BIGINT fast).
  *    u2_micro < 1e6 ⟺ the drift model beats the naive carry-forward.
  *    Calendar-bounded lag windows.
  *  - `gini_by_segment`: per-market-segment Gini concentration of order
  *    value from the grouped Lorenz formula on the (segment, dollar)
  *    histogram — numerator2 = Σ v·cnt·(2·cum_before + cnt + 1) is exact;
  *    gini_micro = numerator2·1e6 div (n·Σx) − (n+1)·1e6 div n. The
  *    cumulative window is partitioned BY SEGMENT over the bounded dollar
  *    domain. (At extreme row counts n·Σx needs 128-bit staging — the
  *    histogram SHAPE is what scales; coarsen the quantum past ~1e10 rows.)
  */
object Queries201 extends QuerySet {
  /** Whole-dollar order value — bounded by the fixed TPC-H price range, so
    * every histogram below has constant size at any SF. */
  private def dollars = expr("CAST(round(o_totalprice) AS BIGINT)")
  private val DollarsSql = "CAST(round(o_totalprice) AS BIGINT)"

  val defs: Map[String, Q] = Map(
    "kruskal_wallis" -> { (sp, dir) =>
      val gv = Tables.orders(sp, dir)
        .select(col("o_orderpriority").as("grp"), dollars.as("v"))
        .groupBy("grp", "v").agg(count(lit(1)).as("cnt"))
      val vtot = gv.groupBy("v").agg(sum("cnt").as("cv"))
        .withColumn("cumb", coalesce(sum("cv").over(
          Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      gv.join(vtot, "v")
        .groupBy("grp")
        .agg(sum("cnt").as("n"),
          sum(col("cnt") * (col("cumb") * 2 + col("cv") + 1)).as("r2"))
        .select(col("grp"), col("n"), col("r2"),
          expr("r2 * 500000 div n").as("meanrank_micro"))
        .orderBy("grp")
    },

    "brown_forsythe_spread" -> { (sp, dir) =>
      val gv = Tables.orders(sp, dir)
        .select(col("o_orderpriority").as("grp"), dollars.as("v"))
        .groupBy("grp", "v").agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy("grp").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withCum = gv
        .withColumn("cum", sum("cnt").over(wCum))
        .withColumn("n", sum("cnt").over(Window.partitionBy("grp")))
      // LOWER median: smallest v whose cumulative count reaches ceil(n/2)
      val med = withCum
        .filter(col("cum") * 2 >= col("n"))
        .groupBy("grp").agg(min("v").as("med"))
      gv.join(med, "grp")
        .groupBy("grp")
        .agg(sum("cnt").as("n"),
          max("med").as("median_dollars"),
          sum(col("cnt") * abs(col("v") - col("med"))).as("sum_absdev"))
        .select(col("grp"), col("n"), col("median_dollars"), col("sum_absdev"),
          expr("sum_absdev * 1000 div n").as("meandev_milli"))
        .orderBy("grp")
    },

    "theil_u_forecast" -> { (sp, dir) =>
      val daily = Tables.orders(sp, dir)
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
        .select(col("d"), expr("cents div 1000000").as("u")) // $10k units
      val w = Window.orderBy("d")
      val lagged = daily
        .withColumn("u1", lag("u", 1).over(w))
        .withColumn("u2", lag("u", 2).over(w))
        .filter(col("u2").isNotNull)
        .select(
          ((col("u1") - col("u")) * (col("u1") - col("u"))).as("e_naive"),
          ((col("u1") * 2 - col("u2") - col("u")) * (col("u1") * 2 - col("u2") - col("u"))).as("e_drift"))
      lagged.agg(count(lit(1)).as("n_days"),
          sum("e_naive").as("sse_naive"), sum("e_drift").as("sse_drift"))
        .select(col("n_days"), col("sse_naive"), col("sse_drift"),
          expr("sse_drift * 1000000 div sse_naive").as("u2_micro"))
    },

    "gini_by_segment" -> { (sp, dir) =>
      val cust = Tables.customer(sp, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))
      val gv = Tables.orders(sp, dir)
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("seg"), dollars.as("v"))
        .groupBy("seg", "v").agg(count(lit(1)).as("cnt"))
      val withCum = gv.withColumn("cumb", coalesce(sum("cnt").over(
        Window.partitionBy("seg").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      withCum.groupBy("seg")
        .agg(sum("cnt").as("n"),
          sum(col("v") * col("cnt")).as("sumv"),
          sum(col("v") * col("cnt") * (col("cumb") * 2 + col("cnt") + 1)).as("numer2"))
        .select(col("seg"), col("n"),
          (expr("numer2 * 1000000 div (n * sumv)") -
            expr("(n + 1) * 1000000 div n")).as("gini_micro"))
        .orderBy("seg")
    }
  )

  val oracles: Map[String, String] = Map(
    "kruskal_wallis" ->
      s"""WITH gv AS (
         |  SELECT o_orderpriority AS grp, $DollarsSql AS v,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM orders GROUP BY 1, 2
         |), vtot AS (
         |  SELECT v, CAST(sum(cnt) AS BIGINT) AS cv,
         |    CAST(coalesce(sum(sum(cnt)) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb
         |  FROM gv GROUP BY v
         |)
         |SELECT grp, CAST(sum(cnt) AS BIGINT) AS n,
         |  CAST(sum(cnt * (cumb * 2 + cv + 1)) AS BIGINT) AS r2,
         |  CAST(sum(cnt * (cumb * 2 + cv + 1)) * 500000
         |       // CAST(sum(cnt) AS BIGINT) AS BIGINT) AS meanrank_micro
         |FROM gv JOIN vtot USING (v)
         |GROUP BY grp ORDER BY grp""".stripMargin,

    "brown_forsythe_spread" ->
      s"""WITH gv AS (
         |  SELECT o_orderpriority AS grp, $DollarsSql AS v,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM orders GROUP BY 1, 2
         |), cum AS (
         |  SELECT grp, v, cnt,
         |    CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |    CAST(sum(cnt) OVER (PARTITION BY grp) AS BIGINT) AS n
         |  FROM gv
         |), med AS (
         |  SELECT grp, min(v) AS med FROM cum WHERE cum * 2 >= n GROUP BY grp
         |)
         |SELECT grp, CAST(sum(cnt) AS BIGINT) AS n,
         |  CAST(max(med) AS BIGINT) AS median_dollars,
         |  CAST(sum(cnt * abs(v - med)) AS BIGINT) AS sum_absdev,
         |  CAST(sum(cnt * abs(v - med)) * 1000 // CAST(sum(cnt) AS BIGINT) AS BIGINT) AS meandev_milli
         |FROM gv JOIN med USING (grp)
         |GROUP BY grp ORDER BY grp""".stripMargin,

    "theil_u_forecast" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 1000000 AS u
        |  FROM orders GROUP BY 1
        |), lagged AS (
        |  SELECT u, lag(u, 1) OVER (ORDER BY d) AS u1, lag(u, 2) OVER (ORDER BY d) AS u2
        |  FROM daily
        |), errs AS (
        |  SELECT (u1 - u) * (u1 - u) AS e_naive,
        |    (u1 * 2 - u2 - u) * (u1 * 2 - u2 - u) AS e_drift
        |  FROM lagged WHERE u2 IS NOT NULL
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(e_naive) AS BIGINT) AS sse_naive,
        |  CAST(sum(e_drift) AS BIGINT) AS sse_drift,
        |  CAST(CAST(sum(e_drift) AS BIGINT) * 1000000
        |       // CAST(sum(e_naive) AS BIGINT) AS BIGINT) AS u2_micro
        |FROM errs""".stripMargin,

    "gini_by_segment" ->
      s"""WITH gv AS (
         |  SELECT c_mktsegment AS seg, $DollarsSql AS v,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1, 2
         |), cum AS (
         |  SELECT seg, v, cnt,
         |    CAST(coalesce(sum(cnt) OVER (PARTITION BY seg ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb
         |  FROM gv
         |)
         |SELECT seg, CAST(sum(cnt) AS BIGINT) AS n,
         |  CAST(CAST(sum(v * cnt * (cumb * 2 + cnt + 1)) AS BIGINT) * 1000000
         |         // (CAST(sum(cnt) AS BIGINT) * CAST(sum(v * cnt) AS BIGINT))
         |       - (CAST(sum(cnt) AS BIGINT) + 1) * 1000000 // CAST(sum(cnt) AS BIGINT)
         |       AS BIGINT) AS gini_micro
         |FROM cum GROUP BY seg ORDER BY seg""".stripMargin
  )
}
