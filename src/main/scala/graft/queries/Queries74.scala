package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-8 continuation #46 — corpus inventory and revenue concentration:
  *
  *  - `ngram_inventory`: the corpus statistics table every dataset paper
  *    prints — for n ∈ {1..4}: occurrences, distinct types, and the
  *    type/token ratio (exact milli). Each n is one explode +
  *    map-side-combined distinct count on the gram key (the vocab_count
  *    cost class); the Heaps-law trend (types per token falling with
  *    corpus size, rising with n) reads straight off the 4 rows.
  *  - `revenue_pareto`: the 80/20 table over customers — deciles by
  *    total order value (ntile over one row per customer, the SQL-
  *    standard remainder rule both engines share), each decile's revenue
  *    share and the cumulative share in exact milli. The whale-dependence
  *    measurement behind `activity_concentration`'s Gini, in the
  *    warehouse's own currency.
  */
object Queries74 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "ngram_inventory" -> { (sp, dir) =>
      val docs = Tables.documents(sp, dir)
      (1 to 4).map { n =>
        // n=1 spells as the empty-filtered token list (the shingle kernel's
        // k≥2 contract; an empty doc must contribute zero unigrams)
        val grams =
          if (n == 1) docs.select(explode(
            filter(TextF.tokens(col("text")), t => t =!= "")).as("g"))
          else docs.select(explode(TextF.shingles(col("text"), n)).as("g"))
        grams.agg(count(lit(1)).as("occurrences"),
          countDistinct(col("g")).as("types"))
          .select(lit(n.toLong).as("n"), col("occurrences"), col("types"),
            expr("types * 1000 div occurrences").as("type_token_milli"))
      }.reduce(_ unionAll _).orderBy("n")
    },

    "revenue_pareto" -> { (sp, dir) =>
      val perCust = Tables.orders(sp, dir)
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
      val wTile = Window.orderBy(col("cents").desc, col("o_custkey"))
      val tiled = perCust.withColumn("decile", ntile(10).over(wTile))
      val deciles = tiled.groupBy(col("decile").cast("long").as("decile"))
        .agg(count(lit(1)).as("n_customers"), sum("cents").as("revenue_cents"))
      val total = deciles.agg(sum("revenue_cents").as("tot"))
      val wCum = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deciles.crossJoin(broadcast(total))
        .withColumn("share_milli", expr("revenue_cents * 1000 div tot"))
        .withColumn("cum_cents", sum("revenue_cents").over(wCum))
        .select(col("decile"), col("n_customers"), col("revenue_cents"),
          col("share_milli"),
          expr("cum_cents * 1000 div tot").as("cum_share_milli"))
        .orderBy("decile")
    }
  )

  private def shinglesSqlN(w: String, n: Int): String =
    if (n == 1) s"list_filter($w, t -> t <> '')"
    else {
      val parts = (0 until n).map(j => s"list_extract($w, i + $j)").mkString(", ' ', ")
      s"list_transform(range(1, len($w) - ${n - 2}), i -> concat($parts))"
    }

  val oracles: Map[String, String] = Map(
    "ngram_inventory" -> {
      val blocks = (1 to 4).map { n =>
        s"""SELECT CAST($n AS BIGINT) AS n,
           |  CAST(count(*) AS BIGINT) AS occurrences,
           |  CAST(count(DISTINCT g) AS BIGINT) AS types,
           |  CAST(count(DISTINCT g) * 1000 // count(*) AS BIGINT) AS type_token_milli
           |FROM (
           |  SELECT unnest(${shinglesSqlN("w", n)}) AS g
           |  FROM (SELECT ${TextF.TokensSql} AS w FROM documents) t$n) g$n""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"$blocks\nORDER BY n"
    },

    "revenue_pareto" ->
      s"""WITH per_cust AS (
         |  SELECT o_custkey,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         |  FROM orders GROUP BY o_custkey
         |),
         |tiled AS (
         |  SELECT *, ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
         |  FROM per_cust
         |),
         |deciles AS (
         |  SELECT CAST(decile AS BIGINT) AS decile,
         |    CAST(count(*) AS BIGINT) AS n_customers,
         |    CAST(sum(cents) AS BIGINT) AS revenue_cents
         |  FROM tiled GROUP BY decile
         |),
         |tot AS (SELECT CAST(sum(revenue_cents) AS BIGINT) AS tot FROM deciles)
         |SELECT d.decile, d.n_customers, d.revenue_cents,
         |  CAST(d.revenue_cents * 1000 // t.tot AS BIGINT) AS share_milli,
         |  CAST(sum(d.revenue_cents) OVER (ORDER BY d.decile
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000 // t.tot
         |    AS BIGINT) AS cum_share_milli
         |FROM deciles d, tot t ORDER BY d.decile""".stripMargin
  )
}
