package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** SURVEY §2 batch 7: pivot (wide conditional aggregation) and a
  * HAVING-filtered join aggregate (TPC-H q18 shape).
  */
object Queries7 extends QuerySet {
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  val defs: Map[String, Q] = Map(
    "pivot_matrix" -> { (sp, dir) =>
      Tables.events(sp, dir)
        .groupBy((col("user_id") % 10).as("cohort"))
        .pivot("event_type", EventTypes)
        .agg(count(lit(1)))
        .na.fill(0L, EventTypes)
        .orderBy("cohort")
    },

    "q18_large_orders" -> { (sp, dir) =>
      val li = Tables.lineitem(sp, dir)
      val ord = Tables.orders(sp, dir)
      li.groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("bigint")).as("sum_qty"))
        .filter(col("sum_qty") > 150)
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(
          col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("bigint").as("total_cents"),
          col("sum_qty"))
        .orderBy(col("total_cents").desc, col("o_orderkey"))
        .limit(50)
    }
  )

  val oracles: Map[String, String] = Map(
    "pivot_matrix" -> {
      val cols = EventTypes
        .map(t => s"""CAST(count(*) FILTER (event_type = '$t') AS BIGINT) AS "$t"""")
        .mkString(",\n  ")
      s"""SELECT user_id % 10 AS cohort,
         |  $cols
         |FROM events GROUP BY 1 ORDER BY cohort""".stripMargin
    },

    "q18_large_orders" ->
      """SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
        |  CAST(sum_qty AS BIGINT) AS sum_qty
        |FROM (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS BIGINT)) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) > 150
        |) t JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY total_cents DESC, o_orderkey LIMIT 50""".stripMargin
  )
}
