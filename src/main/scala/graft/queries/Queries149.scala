package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.IntIdioms.tdivSql

/** Round-9 batch #69 — count-model diagnostics:
  *
  *  - `count_model_diagnostics`: is daily order volume Poisson — the
  *    Fano factor (variance/mean) per day-of-week from exact integer
  *    moments: Poisson ⇒ 1000‰, overdispersion (clumping) pushes it
  *    up; the one number that decides Poisson vs negative-binomial
  *    before anyone fits an anomaly model. Var/mean reduces to
  *    (n·Σx² − (Σx)²)·1000 / (n·Σx) — one truncating division, no
  *    intermediate ratios.
  *  - `dow_mix_stability`: is the day-of-week order mix the SAME every
  *    year — the χ² homogeneity test over the year × dow contingency
  *    table: E quantized to milli-counts by one truncating division,
  *    per-cell (O·1000 − E)²/(E·1000) contributions summed per year.
  *    A drifting weekly rhythm invalidates every dow-keyed baseline
  *    (`seasonal_baseline`, `dow_percentile_bands`) silently; this is
  *    their guard. */
object Queries149 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "count_model_diagnostics" -> { (sp, dir) =>
      Tables.orders(sp, dir)
        .select(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"))
        .groupBy("day").agg(count(lit(1)).as("x"))
        .withColumn("dow", expr("day % 7"))
        .groupBy("dow")
        .agg(count(lit(1)).as("n_days"), sum("x").as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("dow"), col("n_days"),
          expr("sx * 1000 div n_days").as("mean_milli"),
          expr("((n_days * sxx - sx * sx) * 1000) div (n_days * sx)").as("fano_milli"))
        .withColumn("overdispersed",
          when(col("fano_milli") > 1000, 1L).otherwise(0L))
        .orderBy("dow")
    },

    "dow_mix_stability" -> { (sp, dir) =>
      val cells = Tables.orders(sp, dir)
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs % 7").as("dow"))
        .groupBy("yr", "dow").agg(count(lit(1)).as("o"))
      val rowTot = cells.groupBy("yr").agg(sum("o").as("r_tot"))
      val colTot = cells.groupBy("dow").agg(sum("o").as("c_tot"))
      val gTot = cells.agg(sum("o").as("g_tot"))
      cells
        .join(broadcast(rowTot), Seq("yr"))
        .join(broadcast(colTot), Seq("dow"))
        .crossJoin(broadcast(gTot))
        .withColumn("e_milli", expr("r_tot * c_tot * 1000 div g_tot"))
        .withColumn("contrib_milli", expr(
          "((o * 1000 - e_milli) * (o * 1000 - e_milli)) div (e_milli * 1000)"))
        .groupBy("yr")
        .agg(sum("o").as("n_orders"), count(lit(1)).as("n_dows"),
          sum("contrib_milli").as("chi2_milli"))
        .orderBy("yr")
    }
  )

  val oracles: Map[String, String] = Map(
    "count_model_diagnostics" ->
      s"""WITH daily AS (
         |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS day,
         |    CAST(count(*) AS BIGINT) AS x
         |  FROM orders GROUP BY 1
         |),
         |m AS (
         |  SELECT day % 7 AS dow, CAST(count(*) AS BIGINT) AS n_days,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx
         |  FROM daily GROUP BY 1
         |)
         |SELECT dow, n_days,
         |  CAST(sx * 1000 // n_days AS BIGINT) AS mean_milli,
         |  ${tdivSql("((n_days * sxx - sx * sx) * 1000)", "(n_days * sx)")} AS fano_milli,
         |  CAST(CASE WHEN ${tdivSql("((n_days * sxx - sx * sx) * 1000)", "(n_days * sx)")} > 1000
         |       THEN 1 ELSE 0 END AS BIGINT) AS overdispersed
         |FROM m ORDER BY dow""".stripMargin,

    "dow_mix_stability" ->
      s"""WITH cells AS (
         |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs % 7 AS dow,
         |    CAST(count(*) AS BIGINT) AS o
         |  FROM orders GROUP BY 1, 2
         |),
         |rt AS (SELECT yr, CAST(sum(o) AS BIGINT) AS r_tot FROM cells GROUP BY yr),
         |ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c_tot FROM cells GROUP BY dow),
         |gt AS (SELECT CAST(sum(o) AS BIGINT) AS g_tot FROM cells),
         |scored AS (
         |  SELECT c.yr, c.o,
         |    rt.r_tot * ct.c_tot * 1000 // gt.g_tot AS e_milli
         |  FROM cells c JOIN rt ON rt.yr = c.yr JOIN ct ON ct.dow = c.dow, gt
         |)
         |SELECT yr, CAST(sum(o) AS BIGINT) AS n_orders,
         |  CAST(count(*) AS BIGINT) AS n_dows,
         |  CAST(sum(${tdivSql("((o * 1000 - e_milli) * (o * 1000 - e_milli))",
           "(e_milli * 1000)")}) AS BIGINT) AS chi2_milli
         |FROM scored GROUP BY yr ORDER BY yr""".stripMargin
  )
}
