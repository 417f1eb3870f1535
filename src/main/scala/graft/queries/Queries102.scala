package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #22 — group-level data quality and the forecast backtest:
  *
  *  - `dq_order_rules`: `dq_rule_report`'s group-level sibling — rules
  *    that only exist at the ORDER grain (line numbers dense from 1,
  *    at least one line, positive order value, the TPC-H ≤7-line bound),
  *    evaluated from ONE per-order aggregation left-joined back to
  *    orders (an order with no lines violates r2 by the join's null).
  *    Same contract: adding a rule adds a column to the aggregate, never
  *    a scan.
  *  - `forecast_backtest`: the rolling-origin evaluation every forecast
  *    needs — per day d, forecast = mean of the prior 7 calendar days'
  *    purchase revenue (RANGE window on the integer day, absent days
  *    contribute zero, fixed divisor 7), scored against the actual with
  *    signed and absolute error, all exact cents. The daily table is a
  *    ≤#days-row aggregate BEFORE the global window touches it, so the
  *    unpartitioned range frame runs over dozens of rows, not events.
  */
object Queries102 extends QuerySet {
  private val DayUs = 86400000000L
  private[graft] val MaxLines = 7L
  private[graft] val BacktestWindow = 7L

  val defs: Map[String, Q] = Map(
    "dq_order_rules" -> { (sp, dir) =>
      val per = Tables.lineitem(sp, dir)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          max("l_linenumber").cast("bigint").as("max_ln"),
          countDistinct("l_linenumber").as("n_distinct_ln"),
          sum(round(col("l_extendedprice") * 100).cast("bigint") *
            (lit(100L) - round(col("l_discount") * 100).cast("bigint"))).as("rev_e4"))
      val joined = Tables.orders(sp, dir).select(col("o_orderkey"))
        .join(per, col("o_orderkey") === col("l_orderkey"), "left")
      def viol(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
      val agg = joined.agg(
        count(lit(1)).as("n_checked"),
        viol(col("n_lines").isNotNull &&
          (col("max_ln") =!= col("n_lines") || col("n_distinct_ln") =!= col("n_lines")))
          .as("v_dense"),
        viol(col("n_lines").isNull).as("v_nolines"),
        viol(col("n_lines").isNotNull && col("rev_e4") <= 0).as("v_value"),
        viol(col("n_lines").isNotNull && col("n_lines") > MaxLines).as("v_bound"))
      agg.select(col("n_checked"), explode(array(
          struct(lit("1_linenumbers_dense").as("rule"), col("v_dense").as("n_violations")),
          struct(lit("2_has_lines").as("rule"), col("v_nolines").as("n_violations")),
          struct(lit("3_value_positive").as("rule"), col("v_value").as("n_violations")),
          struct(lit("4_line_count_bound").as("rule"), col("v_bound").as("n_violations"))))
          .as("r"))
        .select(col("r.rule").as("rule"), col("n_checked"),
          col("r.n_violations").as("n_violations"),
          expr("r.n_violations * 1000 div n_checked").as("violation_milli"))
        .orderBy("rule")
    },

    "forecast_backtest" -> { (sp, dir) =>
      val daily = Tables.events(sp, dir).filter(col("event_type") === "purchase")
        .groupBy(expr(s"ts_us div $DayUs").as("day"))
        .agg(sum(round(col("value") * 100).cast("bigint")).as("actual_cents"))
      val w = Window.orderBy("day").rangeBetween(-BacktestWindow, -1)
      daily
        .withColumn("win_sum", coalesce(sum("actual_cents").over(w), lit(0L)))
        .withColumn("forecast_cents", expr(s"win_sum div $BacktestWindow"))
        .withColumn("d0", min("day").over(Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .filter(col("day") >= col("d0") + BacktestWindow)
        .select(col("day"), col("actual_cents"), col("forecast_cents"),
          (col("actual_cents") - col("forecast_cents")).as("err_cents"),
          abs(col("actual_cents") - col("forecast_cents")).as("abs_err_cents"))
        .orderBy("day")
    }
  )

  val oracles: Map[String, String] = Map(
    "dq_order_rules" ->
      s"""WITH per AS (
         |  SELECT l_orderkey, count(*) AS n_lines,
         |    CAST(max(l_linenumber) AS BIGINT) AS max_ln,
         |    count(DISTINCT l_linenumber) AS n_distinct_ln,
         |    sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
         |        (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_e4
         |  FROM lineitem GROUP BY 1
         |), j AS (
         |  SELECT o_orderkey, n_lines, max_ln, n_distinct_ln, rev_e4
         |  FROM orders LEFT JOIN per ON o_orderkey = l_orderkey
         |), agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_checked,
         |    CAST(sum(CASE WHEN n_lines IS NOT NULL
         |      AND (max_ln <> n_lines OR n_distinct_ln <> n_lines)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS v_dense,
         |    CAST(sum(CASE WHEN n_lines IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS v_nolines,
         |    CAST(sum(CASE WHEN n_lines IS NOT NULL AND rev_e4 <= 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS v_value,
         |    CAST(sum(CASE WHEN n_lines IS NOT NULL AND n_lines > $MaxLines
         |      THEN 1 ELSE 0 END) AS BIGINT) AS v_bound
         |  FROM j
         |)
         |SELECT rule, n_checked, n_violations,
         |  CAST(n_violations * 1000 // n_checked AS BIGINT) AS violation_milli
         |FROM (
         |  SELECT '1_linenumbers_dense' AS rule, n_checked, v_dense AS n_violations FROM agg
         |  UNION ALL SELECT '2_has_lines', n_checked, v_nolines FROM agg
         |  UNION ALL SELECT '3_value_positive', n_checked, v_value FROM agg
         |  UNION ALL SELECT '4_line_count_bound', n_checked, v_bound FROM agg
         |) u ORDER BY rule""".stripMargin,

    "forecast_backtest" ->
      s"""WITH daily AS (
         |  SELECT epoch_us(ts) // $DayUs AS day,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS actual_cents
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1
         |), f AS (
         |  SELECT day, actual_cents,
         |    CAST(coalesce(sum(actual_cents) OVER (ORDER BY day
         |      RANGE BETWEEN $BacktestWindow PRECEDING AND 1 PRECEDING), 0)
         |      // $BacktestWindow AS BIGINT) AS forecast_cents,
         |    min(day) OVER () AS d0
         |  FROM daily
         |)
         |SELECT CAST(day AS BIGINT) AS day, actual_cents, forecast_cents,
         |  CAST(actual_cents - forecast_cents AS BIGINT) AS err_cents,
         |  CAST(abs(actual_cents - forecast_cents) AS BIGINT) AS abs_err_cents
         |FROM f WHERE day >= d0 + $BacktestWindow ORDER BY day""".stripMargin
  )
}
