package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-12 batch #17 — rank correlation matrix, supply-chain risk, and
  * calendar completeness:
  *
  *  - `spearman_matrix`: Spearman rank correlation between the three
  *    daily business metrics (order count, revenue, total quantity) —
  *    every pairwise ρ exact via deterministic day-tiebreak ranks and the
  *    same staged integer division spearman_rho uses (Pearson's
  *    metric_corr_matrix sees linear co-movement; ranks see monotone).
  *    The matrix is 3 metrics → 3 rows, windows over the calendar-bounded
  *    daily series.
  *  - `single_source_risk`: parts observed from exactly ONE supplier —
  *    the single-source supply risk census per part type prefix (count +
  *    share permille): the sourcing-resilience read a procurement review
  *    starts from. Two key-shrinking aggregates.
  *  - `calendar_gaps`: missing order days — each gap interval (previous
  *    day, next day, days missing) from one lag over the DISTINCT-day
  *    rollup, plus nothing else: the completeness read that data_freshness
  *    (staleness) and late_arrival_stats (lateness) do not cover. A
  *    pipeline that silently dropped a day shows up here first.
  */
object Queries174 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "spearman_matrix" -> { (sp, dir) =>
      val daily = Tables.orders(sp, dir)
        .join(Tables.lineitem(sp, dir).select(col("l_orderkey").as("o_orderkey"),
          round(col("l_quantity")).cast("bigint").as("qty")), "o_orderkey")
        .groupBy(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"))
        .agg(countDistinct(col("o_orderkey")).as("m_orders"),
          sum("qty").as("m_qty"))
      // o_totalprice repeats per line — rebuild revenue from orders alone
      val rev = Tables.orders(sp, dir)
        .groupBy(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("m_revenue"))
      val m = daily.join(rev, "day")
      val ranked = m.select(col("day"),
        row_number().over(Window.orderBy("m_orders", "day")).as("r_orders"),
        row_number().over(Window.orderBy("m_revenue", "day")).as("r_revenue"),
        row_number().over(Window.orderBy("m_qty", "day")).as("r_qty"))
      val pairs = Seq(("orders", "revenue"), ("orders", "qty"), ("revenue", "qty"))
      val rows = pairs.map { case (a, b) =>
        ranked.agg(count(lit(1)).as("n"),
            sum(expr(s"CAST((r_$a - r_$b) AS BIGINT) * (r_$a - r_$b)")).as("sum_d2"))
          .withColumn("denom", expr("n * (n * n - 1)"))
          .select(lit(s"${a}_vs_$b").as("pair"), col("n"), col("sum_d2"),
            expr("""1000000 - ((6 * sum_d2 div denom) * 1000000
                   |  + ((6 * sum_d2 % denom) * 1000 div denom) * 1000
                   |  + (((6 * sum_d2 % denom) * 1000 % denom) * 1000 div denom))
                   |""".stripMargin.replace("\n", " ")).as("rho_micro"))
      }
      rows.reduce(_.union(_)).orderBy("pair")
    },

    "single_source_risk" -> { (sp, dir) =>
      val perPart = Tables.lineitem(sp, dir)
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"))
      perPart
        .join(Tables.part(sp, dir).select(col("p_partkey"),
          substring_index(col("p_type"), " ", 1).as("type_class")), "p_partkey")
        .groupBy("type_class")
        .agg(count(lit(1)).as("n_parts"),
          sum(when(col("n_suppliers") === 1, 1L).otherwise(0L)).as("single_source"))
        .withColumn("single_pm", expr("single_source * 1000 div n_parts"))
        .orderBy("type_class")
    },

    "calendar_gaps" -> { (sp, dir) =>
      val days = Tables.orders(sp, dir)
        .select(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"))
        .distinct()
      days.withColumn("prev", lag("day", 1).over(Window.orderBy("day")))
        .filter(col("prev").isNotNull && col("day") - col("prev") > 1)
        .select(col("prev").as("gap_after_day"), col("day").as("resumes_day"),
          (col("day") - col("prev") - 1).as("days_missing"))
        .orderBy("gap_after_day")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "spearman_matrix" -> {
      def pairSel(a: String, b: String) =
        s"""SELECT '${a}_vs_$b' AS pair, n, sum_d2,
           |  CAST(1000000 - ((6 * sum_d2 // denom) * 1000000
           |    + ((6 * sum_d2 % denom) * 1000 // denom) * 1000
           |    + (((6 * sum_d2 % denom) * 1000 % denom) * 1000 // denom)) AS BIGINT)
           |    AS rho_micro
           |FROM (
           |  SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(CAST(r_$a - r_$b AS BIGINT) * (r_$a - r_$b)) AS BIGINT) AS sum_d2,
           |    CAST(count(*) * (count(*) * count(*) - 1) AS BIGINT) AS denom
           |  FROM ranked) s""".stripMargin
      s"""WITH counts AS (
         |  SELECT epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) // $DayUs AS day,
         |    CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS m_orders,
         |    CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS m_qty
         |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |  GROUP BY 1),
         |rev AS (
         |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS day,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m_revenue
         |  FROM orders GROUP BY 1),
         |m AS (SELECT counts.day, m_orders, m_qty, m_revenue
         |      FROM counts JOIN rev ON rev.day = counts.day),
         |ranked AS (
         |  SELECT day,
         |    row_number() OVER (ORDER BY m_orders, day) AS r_orders,
         |    row_number() OVER (ORDER BY m_revenue, day) AS r_revenue,
         |    row_number() OVER (ORDER BY m_qty, day) AS r_qty
         |  FROM m)
         |${pairSel("orders", "revenue")}
         |UNION ALL
         |${pairSel("orders", "qty")}
         |UNION ALL
         |${pairSel("revenue", "qty")}
         |ORDER BY pair""".stripMargin
    },

    "single_source_risk" ->
      """WITH per_part AS (
        |  SELECT l_partkey AS p_partkey,
        |    CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
        |  FROM lineitem GROUP BY 1)
        |SELECT string_split(p.p_type, ' ')[1] AS type_class,
        |  CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(CASE WHEN pp.n_suppliers = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS single_source,
        |  CAST(sum(CASE WHEN pp.n_suppliers = 1 THEN 1 ELSE 0 END) * 1000 // count(*)
        |    AS BIGINT) AS single_pm
        |FROM per_part pp JOIN part p ON p.p_partkey = pp.p_partkey
        |GROUP BY 1 ORDER BY type_class""".stripMargin,

    "calendar_gaps" ->
      s"""WITH days AS (
         |  SELECT DISTINCT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS day
         |  FROM orders),
         |lagged AS (
         |  SELECT day, lag(day) OVER (ORDER BY day) AS prev FROM days)
         |SELECT CAST(prev AS BIGINT) AS gap_after_day,
         |  CAST(day AS BIGINT) AS resumes_day,
         |  CAST(day - prev - 1 AS BIGINT) AS days_missing
         |FROM lagged WHERE prev IS NOT NULL AND day - prev > 1
         |ORDER BY gap_after_day""".stripMargin
  )
}
