package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.GraftFunctions

/** Round-9 batch #56 — assortment structure + returns fraud:
  *
  *  - `supplier_part_overlap`: how much do the top-20 suppliers'
  *    part assortments overlap — the supplier-substitutability read
  *    behind q2/q20's sourcing decisions. The bitmap engine's third
  *    production shape: ONE aggregation turns each supplier's shipped
  *    part set into a serialized container bitmap (`BitmapBytes`), the
  *    190-cell pair grid then runs scalar `BitmapAndCardinality` ANDs
  *    post-aggregation — the raw (supp, part) stream shuffles once,
  *    never pairwise. Top-20 by shipped volume (suppkey tie-break);
  *    Jaccard in exact milli; the oracle recomputes every cell from
  *    raw distinct part sets.
  *  - `return_abuse_scan`: the returns-fraud screen — customers whose
  *    return rate is ≥ 1.5× the corpus rate on ≥ 20 shipped items
  *    (rate floor keeps small-sample noise out). Two key-shrinking
  *    aggregations + a broadcast global rate; exact milli rates and
  *    the lift vs corpus. */
object Queries136 extends QuerySet {
  private val TopSuppliers = 20
  private val MinItems = 20L

  val defs: Map[String, Q] = Map(
    "supplier_part_overlap" -> { (sp, dir) =>
      val li = Tables.lineitem(sp, dir).select(col("l_suppkey"), col("l_partkey"))
      val top = li.groupBy("l_suppkey").agg(count(lit(1)).as("vol"))
        .orderBy(col("vol").desc, col("l_suppkey")).limit(TopSuppliers)
        .select(col("l_suppkey"))
      val sk = li.join(broadcast(top), Seq("l_suppkey"))
        .groupBy("l_suppkey")
        .agg(GraftFunctions.bitmapBytes(col("l_partkey")).as("bm"),
          GraftFunctions.bitmapDistinct(col("l_partkey")).as("n_parts"))
      val a = sk.select(col("l_suppkey").as("supp_a"), col("bm").as("bm_a"),
        col("n_parts").as("n_a"))
      val b = sk.select(col("l_suppkey").as("supp_b"), col("bm").as("bm_b"),
        col("n_parts").as("n_b"))
      broadcast(a).join(b, col("supp_a") < col("supp_b"))
        .withColumn("shared", GraftFunctions.bitmapAndCount(col("bm_a"), col("bm_b")))
        .select(col("supp_a"), col("supp_b"), col("n_a"), col("n_b"), col("shared"),
          expr("shared * 1000 div (n_a + n_b - shared)").as("jaccard_milli"))
        .orderBy("supp_a", "supp_b")
    },

    "return_abuse_scan" -> { (sp, dir) =>
      val per = Tables.lineitem(sp, dir)
        .join(Tables.orders(sp, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_items"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"))
      val perC = graft.util.CacheScope.track(per)
      val global = perC.agg(
        expr("sum(n_returned) * 1000 div sum(n_items)").as("global_milli"))
      perC.crossJoin(broadcast(global))
        .withColumn("rate_milli", expr("n_returned * 1000 div n_items"))
        .filter(col("n_items") >= MinItems
          && col("rate_milli") * 10 >= lit(15) * col("global_milli"))
        .select(col("o_custkey").as("custkey"), col("n_items"), col("n_returned"),
          col("rate_milli"), col("global_milli"),
          expr("rate_milli * 1000 div global_milli").as("lift_milli"))
        .orderBy("custkey")
    }
  )

  val oracles: Map[String, String] = Map(
    "supplier_part_overlap" ->
      s"""WITH top AS (
         |  SELECT l_suppkey FROM (
         |    SELECT l_suppkey, count(*) AS vol,
         |      row_number() OVER (ORDER BY count(*) DESC, l_suppkey) AS rk
         |    FROM lineitem GROUP BY l_suppkey) t
         |  WHERE rk <= $TopSuppliers
         |),
         |sets AS (
         |  SELECT DISTINCT l.l_suppkey, l.l_partkey
         |  FROM lineitem l JOIN top ON top.l_suppkey = l.l_suppkey
         |),
         |sizes AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n FROM sets GROUP BY 1
         |),
         |shared AS (
         |  SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
         |    CAST(count(*) AS BIGINT) AS shared
         |  FROM sets a JOIN sets b
         |    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
         |  GROUP BY 1, 2
         |)
         |SELECT sa.l_suppkey AS supp_a, sb.l_suppkey AS supp_b,
         |  sa.n AS n_a, sb.n AS n_b,
         |  coalesce(sh.shared, 0) AS shared,
         |  CAST(coalesce(sh.shared, 0) * 1000 // (sa.n + sb.n - coalesce(sh.shared, 0))
         |    AS BIGINT) AS jaccard_milli
         |FROM sizes sa JOIN sizes sb ON sa.l_suppkey < sb.l_suppkey
         |LEFT JOIN shared sh ON sh.supp_a = sa.l_suppkey AND sh.supp_b = sb.l_suppkey
         |ORDER BY supp_a, supp_b""".stripMargin,

    "return_abuse_scan" ->
      s"""WITH per AS (
         |  SELECT o.o_custkey, CAST(count(*) AS BIGINT) AS n_items,
         |    CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_returned
         |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
         |  GROUP BY 1
         |),
         |g AS (
         |  SELECT CAST(sum(n_returned) * 1000 // sum(n_items) AS BIGINT) AS global_milli
         |  FROM per
         |)
         |SELECT per.o_custkey AS custkey, per.n_items, per.n_returned,
         |  CAST(per.n_returned * 1000 // per.n_items AS BIGINT) AS rate_milli,
         |  g.global_milli,
         |  CAST((per.n_returned * 1000 // per.n_items) * 1000 // g.global_milli AS BIGINT)
         |    AS lift_milli
         |FROM per, g
         |WHERE per.n_items >= $MinItems
         |  AND (per.n_returned * 1000 // per.n_items) * 10 >= 15 * g.global_milli
         |ORDER BY custkey""".stripMargin
  )
}
