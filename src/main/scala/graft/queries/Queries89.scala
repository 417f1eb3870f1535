package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #9 — relational-surface closure: the two reporting shapes
  * the cube/rollup pair didn't cover:
  *
  *  - `grouping_sets_report`: EXPLICIT grouping sets — (priority), (year),
  *    (priority, year) in one aggregation pass (`Dataset.groupingSets`;
  *    `cube` would add the unwanted grand total, `rollup` imposes a
  *    hierarchy): one shuffle produces all three granularities, which is
  *    the point at 100 TB — three reports, one pass over the facts.
  *    Totals are distinguishable by the NULLed-out dimension (neither
  *    input column is nullable).
  *  - `metrics_unpivot`: wide→long melt of a daily metrics table
  *    (`Dataset.unpivot`): the report-table transpose every BI export
  *    needs; the wide aggregate is computed once, the melt is a narrow
  *    in-row expansion (3 rows per day, no second scan of events).
  */
object Queries89 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "grouping_sets_report" -> { (sp, dir) =>
      val o = Tables.orders(sp, dir)
        .select(col("o_orderpriority"), year(col("o_orderdate")).cast("long").as("y"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"))
      o.groupingSets(
          Seq(Seq(col("o_orderpriority")), Seq(col("y")), Seq(col("o_orderpriority"), col("y"))),
          col("o_orderpriority"), col("y"))
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("revenue_cents"))
        .orderBy(col("o_orderpriority").asc_nulls_first, col("y").asc_nulls_first)
    },

    "metrics_unpivot" -> { (sp, dir) =>
      val daily = Tables.events(sp, dir)
        .groupBy(expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("event_type")).as("n_types"))
      daily.unpivot(
          Array(col("day")),
          Array(col("n_events"), col("n_users"), col("n_types")),
          "metric", "value")
        .orderBy("day", "metric")
    }
  )

  val oracles: Map[String, String] = Map(
    "grouping_sets_report" ->
      s"""SELECT o_orderpriority, y, CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(cents) AS BIGINT) AS revenue_cents
         |FROM (SELECT o_orderpriority, CAST(year(o_orderdate) AS BIGINT) AS y,
         |        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |      FROM orders) o
         |GROUP BY GROUPING SETS ((o_orderpriority), (y), (o_orderpriority, y))
         |ORDER BY o_orderpriority NULLS FIRST, y NULLS FIRST""".stripMargin,

    "metrics_unpivot" ->
      s"""WITH daily AS (
         |  SELECT epoch_us(ts) // 86400000000 AS day,
         |    CAST(count(*) AS BIGINT) AS n_events,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |    CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
         |  FROM events GROUP BY day
         |)
         |SELECT day, 'n_events' AS metric, n_events AS value FROM daily
         |UNION ALL SELECT day, 'n_users', n_users FROM daily
         |UNION ALL SELECT day, 'n_types', n_types FROM daily
         |ORDER BY day, metric""".stripMargin
  )
}
