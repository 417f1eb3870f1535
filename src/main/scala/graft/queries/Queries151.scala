package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #71 — market concentration + freshness ranking:
  *
  *  - `cr4_by_nation`: the four-firm concentration ratio per customer
  *    nation — CR4 = top-4 customers' share of the nation's revenue,
  *    the antitrust-style read `supplier_hhi` gives for suppliers.
  *    Nation-partitioned rank windows over the per-customer rollup;
  *    exact milli.
  *  - `decayed_popularity`: exponentially-decayed demand ranking with a
  *    one-week half-life, EXACTLY: each lineitem contributes
  *    qty · (2⁴⁰ >> age_weeks) — a pure bit shift, no floats, items
  *    older than 40 half-lives contribute exactly 0. The freshness
  *    re-ranking every trending-items surface uses; the raw all-time
  *    rank rides along so the output IS the rank-shift table. Top-20
  *    by distributed orderBy-limit. */
object Queries151 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "cr4_by_nation" -> { (sp, dir) =>
      val perCust = Tables.orders(sp, dir)
        .join(Tables.customer(sp, dir).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"), col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
      val w = Window.partitionBy("nation").orderBy(col("cents").desc, col("o_custkey"))
      perCust
        .withColumn("rk", row_number().over(w))
        .groupBy("nation")
        .agg(count(lit(1)).as("n_customers"), sum("cents").as("total_cents"),
          sum(when(col("rk") <= 4, col("cents")).otherwise(0L)).as("top4_cents"))
        .select(col("nation"), col("n_customers"), col("total_cents"), col("top4_cents"),
          expr("top4_cents * 1000 div total_cents").as("cr4_milli"))
        .orderBy("nation")
    },

    "decayed_popularity" -> { (sp, dir) =>
      val li = Tables.lineitem(sp, dir)
        .select(col("l_partkey"), col("l_quantity").cast("bigint").as("qty"),
          expr(s"unix_micros(CAST(l_shipdate AS TIMESTAMP)) div ${DayUs * 7}").as("wk"))
      val mx = li.agg(max("wk").as("mxwk"))
      val scored = li.crossJoin(broadcast(mx))
        .withColumn("age", col("mxwk") - col("wk"))
        .withColumn("decayed",
          when(col("age") <= 40,
            col("qty") * expr("CAST(1099511627776 AS BIGINT) >> CAST(age AS INT)"))
            .otherwise(0L))
        .groupBy("l_partkey")
        .agg(sum("qty").as("total_qty"), sum("decayed").as("decayed_score"))
      val wAll = Window.orderBy(col("total_qty").desc, col("l_partkey"))
      val wDec = Window.orderBy(col("decayed_score").desc, col("l_partkey"))
      scored
        .withColumn("rank_alltime", row_number().over(wAll).cast("bigint"))
        .withColumn("rank_decayed", row_number().over(wDec).cast("bigint"))
        .filter(col("rank_decayed") <= 20)
        .select(col("rank_decayed"), col("l_partkey"), col("decayed_score"),
          col("total_qty"), col("rank_alltime"),
          (col("rank_alltime") - col("rank_decayed")).as("rank_shift"))
        .orderBy("rank_decayed")
    }
  )

  val oracles: Map[String, String] = Map(
    "cr4_by_nation" ->
      s"""WITH per AS (
         |  SELECT c.c_nationkey AS nation, o.o_custkey,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
         |  GROUP BY 1, 2
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY nation ORDER BY cents DESC, o_custkey) AS rk
         |  FROM per
         |)
         |SELECT nation, CAST(count(*) AS BIGINT) AS n_customers,
         |  CAST(sum(cents) AS BIGINT) AS total_cents,
         |  CAST(sum(CASE WHEN rk <= 4 THEN cents ELSE 0 END) AS BIGINT) AS top4_cents,
         |  CAST(sum(CASE WHEN rk <= 4 THEN cents ELSE 0 END) * 1000 // sum(cents) AS BIGINT)
         |    AS cr4_milli
         |FROM ranked GROUP BY nation ORDER BY nation""".stripMargin,

    "decayed_popularity" ->
      s"""WITH li AS (
         |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
         |    epoch_us(CAST(l_shipdate AS TIMESTAMP)) // ${DayUs * 7} AS wk
         |  FROM lineitem
         |),
         |mx AS (SELECT max(wk) AS mxwk FROM li),
         |scored AS (
         |  SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS total_qty,
         |    CAST(sum(CASE WHEN mx.mxwk - wk <= 40
         |      THEN qty * (CAST(1099511627776 AS BIGINT) >> CAST(mx.mxwk - wk AS INT))
         |      ELSE 0 END) AS BIGINT) AS decayed_score
         |  FROM li, mx GROUP BY 1
         |),
         |ranked AS (
         |  SELECT *,
         |    CAST(row_number() OVER (ORDER BY total_qty DESC, l_partkey) AS BIGINT)
         |      AS rank_alltime,
         |    CAST(row_number() OVER (ORDER BY decayed_score DESC, l_partkey) AS BIGINT)
         |      AS rank_decayed
         |  FROM scored
         |)
         |SELECT rank_decayed, l_partkey, decayed_score, total_qty, rank_alltime,
         |  rank_alltime - rank_decayed AS rank_shift
         |FROM ranked WHERE rank_decayed <= 20
         |ORDER BY rank_decayed""".stripMargin
  )
}
