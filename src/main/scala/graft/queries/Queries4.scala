package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.SaltedAgg

/** SURVEY §2 batch 4: more OLAP shapes — selective filter agg (q6,
  * pushdown showcase), ROLLUP grouping sets, and the salted skew-safe
  * aggregation (oracle = the plain aggregate it must equal).
  */
object Queries4 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "q6_forecast" -> { (sp, dir) =>
      Tables.lineitem(sp, dir)
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            round(col("l_discount") * 100).cast("bigint").between(5, 7) &&
            col("l_quantity") < 24)
        .select((round(col("l_extendedprice") * 100).cast("bigint") *
          round(col("l_discount") * 100).cast("bigint")).as("rev_e4"))
        .agg(sum(col("rev_e4")).as("revenue_e4"), count(lit(1)).as("n"))
    },

    "rollup_agg" -> { (sp, dir) =>
      Tables.orders(sp, dir)
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("bigint")).as("total_cents"))
        .orderBy(col("o_orderpriority").asc_nulls_first, col("o_orderstatus").asc_nulls_first)
    },

    "salted_agg" -> { (sp, dir) =>
      SaltedAgg.aggregate(
        Tables.events(sp, dir).withColumn("value_cents", round(col("value") * 100).cast("bigint")),
        keys = Seq("user_id"),
        aggs = Seq(("*", "count", "n_events"), ("value_cents", "sum", "sum_cents"),
          ("ts_us", "min", "first_us"), ("ts_us", "max", "last_us")),
        salts = 16
      ).orderBy("user_id")
    }
  )

  val oracles: Map[String, String] = Map(
    "q6_forecast" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |       count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
        |  AND l_quantity < 24""".stripMargin,

    "rollup_agg" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders
        |GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,

    "salted_agg" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
