package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #48 — warehouse-side affinity and price hygiene:
  *
  *  - `order_part_affinity`: `basket_rules`' warehouse twin — part pairs
  *    co-purchased within an ORDER (the real market basket TPC-H models),
  *    support / confidence / lift in exact milli, top-20 by lift. The
  *    within-order pair join is bounded by order width (≤ 4 lines in this
  *    corpus), never the catalog; part counts broadcast.
  *  - `price_dispersion`: the pricing-consistency audit — per part sold
  *    in ≥ 3 lines: unit-price spread (max − min over the per-unit cents)
  *    relative to the minimum, exact milli; top-20 widest. A wide spread
  *    on the same part is either discount structure or a data bug —
  *    either way the first thing a pricing review opens. Per-unit price
  *    uses cents div quantity (TPC-H quantities are integral), one
  *    (part) aggregation.
  */
object Queries76 extends QuerySet {
  private val TopK = 20

  val defs: Map[String, Q] = Map(
    "order_part_affinity" -> { (sp, dir) =>
      val li = Tables.lineitem(sp, dir)
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
        .distinct()
      val nOrders = Tables.orders(sp, dir).select("o_orderkey").distinct().count()
      val partCnt = li.groupBy("part").agg(count(lit(1)).as("pc"))
      val pairs = li.as("a").join(li.as("b"),
        col("a.okey") === col("b.okey") && col("a.part") < col("b.part"))
        .groupBy(col("a.part").as("part_a"), col("b.part").as("part_b"))
        .agg(count(lit(1)).as("pair_cnt"))
      pairs
        .join(broadcast(partCnt.select(col("part").as("part_a"), col("pc").as("cnt_a"))),
          Seq("part_a"))
        .join(broadcast(partCnt.select(col("part").as("part_b"), col("pc").as("cnt_b"))),
          Seq("part_b"))
        .select(col("part_a"), col("part_b"), col("pair_cnt"), col("cnt_a"), col("cnt_b"),
          expr(s"pair_cnt * 1000 div $nOrders").as("support_milli"),
          expr("pair_cnt * 1000 div cnt_a").as("confidence_milli"),
          expr(s"(pair_cnt * $nOrders * 1000) div (cnt_a * cnt_b)").as("lift_milli"))
        .orderBy(col("lift_milli").desc, col("part_a"), col("part_b"))
        .limit(TopK)
    },

    "price_dispersion" -> { (sp, dir) =>
      val unit = Tables.lineitem(sp, dir)
        .select(col("l_partkey").as("part"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT) div CAST(round(l_quantity) AS BIGINT)")
            .as("unit_cents"))
      unit.groupBy("part")
        .agg(count(lit(1)).as("n_lines"),
          min("unit_cents").as("min_cents"), max("unit_cents").as("max_cents"))
        .filter(col("n_lines") >= 3)
        .withColumn("spread_milli",
          expr("(max_cents - min_cents) * 1000 div min_cents"))
        .orderBy(col("spread_milli").desc, col("part"))
        .limit(TopK)
    }
  )

  val oracles: Map[String, String] = Map(
    "order_part_affinity" ->
      s"""WITH li AS (
         |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
         |),
         |n AS (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders FROM orders),
         |pc AS (SELECT part, CAST(count(*) AS BIGINT) AS pc FROM li GROUP BY part),
         |pairs AS (
         |  SELECT a.part AS part_a, b.part AS part_b, CAST(count(*) AS BIGINT) AS pair_cnt
         |  FROM li a JOIN li b ON a.okey = b.okey AND a.part < b.part
         |  GROUP BY 1, 2
         |)
         |SELECT p.part_a, p.part_b, p.pair_cnt,
         |  ca.pc AS cnt_a, cb.pc AS cnt_b,
         |  CAST(p.pair_cnt * 1000 // n.n_orders AS BIGINT) AS support_milli,
         |  CAST(p.pair_cnt * 1000 // ca.pc AS BIGINT) AS confidence_milli,
         |  CAST((p.pair_cnt * n.n_orders * 1000) // (ca.pc * cb.pc) AS BIGINT) AS lift_milli
         |FROM pairs p
         |JOIN pc ca ON ca.part = p.part_a
         |JOIN pc cb ON cb.part = p.part_b
         |CROSS JOIN n
         |ORDER BY lift_milli DESC, part_a, part_b
         |LIMIT $TopK""".stripMargin,

    "price_dispersion" ->
      s"""WITH unit AS (
         |  SELECT l_partkey AS part,
         |    CAST(round(l_extendedprice * 100) AS BIGINT)
         |      // CAST(round(l_quantity) AS BIGINT) AS unit_cents
         |  FROM lineitem
         |)
         |SELECT part, CAST(count(*) AS BIGINT) AS n_lines,
         |  CAST(min(unit_cents) AS BIGINT) AS min_cents,
         |  CAST(max(unit_cents) AS BIGINT) AS max_cents,
         |  CAST((max(unit_cents) - min(unit_cents)) * 1000 // min(unit_cents) AS BIGINT)
         |    AS spread_milli
         |FROM unit GROUP BY part HAVING count(*) >= 3
         |ORDER BY spread_milli DESC, part
         |LIMIT $TopK""".stripMargin
  )
}
