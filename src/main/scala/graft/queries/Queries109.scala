package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #29 — repeat-demand and audience structure:
  *
  *  - `part_reorder_rate`: per part, how much demand is REPEAT demand —
  *    (customer, part) pairs with more than one distinct order, rolled up
  *    to the part with an exact milli reorder rate. The replenishment
  *    signal demand planning reads (the Instacart-style metric); two
  *    key-shrinking aggregations, the first on the (part, customer) key
  *    the join already clusters.
  *  - `campaign_audience_overlap`: the exact pairwise user-overlap grid
  *    over the ten click campaigns — |A∩B|, and Jaccard in milli per
  *    unordered pair. The fan-out is bounded by campaigns-per-user (≤10
  *    by definition), so the per-user pair explosion is ≤45 rows per
  *    user, never |A|·|B|; `audience_overlap_kmv` estimates this same
  *    quantity with sketches — this is the exact small-universe
  *    scoreboard it calibrates against.
  */
object Queries109 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "part_reorder_rate" -> { (sp, dir) =>
      val li = Tables.lineitem(sp, dir).select(col("l_orderkey"), col("l_partkey"))
      val ord = Tables.orders(sp, dir).select(col("o_orderkey"), col("o_custkey"))
      val perCustPart = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_partkey", "o_custkey")
        .agg(countDistinct("l_orderkey").as("n_orders"))
      perCustPart.groupBy(col("l_partkey").as("partkey"))
        .agg(count(lit(1)).as("n_customers"),
          sum("n_orders").as("n_cust_orders"),
          sum(when(col("n_orders") >= 2, 1L).otherwise(0L)).as("n_repeat_customers"))
        .select(col("partkey"), col("n_customers"), col("n_cust_orders"),
          col("n_repeat_customers"),
          expr("n_repeat_customers * 1000 div n_customers").as("reorder_milli"))
        .orderBy("partkey")
    },

    "campaign_audience_overlap" -> { (sp, dir) =>
      val aud = Tables.events(sp, dir).filter(col("event_type") === "click")
        .select(col("user_id"),
          (get_json_object(col("props"), "$.k").cast("bigint") % 10).as("campaign"))
        .distinct()
      val sizes = aud.groupBy(col("campaign")).agg(count(lit(1)).as("n"))
      val pairs = aud.as("a").join(aud.as("b"),
          col("a.user_id") === col("b.user_id") && col("a.campaign") < col("b.campaign"))
        .groupBy(col("a.campaign").as("camp_a"), col("b.campaign").as("camp_b"))
        .agg(count(lit(1)).as("n_both"))
      pairs
        .join(sizes.select(col("campaign").as("camp_a"), col("n").as("n_a")), Seq("camp_a"))
        .join(sizes.select(col("campaign").as("camp_b"), col("n").as("n_b")), Seq("camp_b"))
        .select(col("camp_a"), col("camp_b"), col("n_a"), col("n_b"), col("n_both"),
          expr("n_both * 1000 div (n_a + n_b - n_both)").as("jaccard_milli"))
        .orderBy("camp_a", "camp_b")
    }
  )

  val oracles: Map[String, String] = Map(
    "part_reorder_rate" ->
      s"""WITH pcp AS (
         |  SELECT l_partkey, o_custkey,
         |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2
         |)
         |SELECT l_partkey AS partkey,
         |  CAST(count(*) AS BIGINT) AS n_customers,
         |  CAST(sum(n_orders) AS BIGINT) AS n_cust_orders,
         |  CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_repeat_customers,
         |  CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) * 1000 // count(*)
         |    AS BIGINT) AS reorder_milli
         |FROM pcp GROUP BY 1 ORDER BY partkey""".stripMargin,

    "campaign_audience_overlap" ->
      s"""WITH aud AS (
         |  SELECT DISTINCT user_id,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) % 10 AS campaign
         |  FROM events WHERE event_type = 'click'
         |), sizes AS (
         |  SELECT campaign, CAST(count(*) AS BIGINT) AS n FROM aud GROUP BY 1
         |), pairs AS (
         |  SELECT a.campaign AS camp_a, b.campaign AS camp_b,
         |    CAST(count(*) AS BIGINT) AS n_both
         |  FROM aud a JOIN aud b
         |    ON a.user_id = b.user_id AND a.campaign < b.campaign
         |  GROUP BY 1, 2
         |)
         |SELECT p.camp_a, p.camp_b, sa.n AS n_a, sb.n AS n_b, p.n_both,
         |  CAST(p.n_both * 1000 // (sa.n + sb.n - p.n_both) AS BIGINT)
         |    AS jaccard_milli
         |FROM pairs p
         |JOIN sizes sa ON sa.campaign = p.camp_a
         |JOIN sizes sb ON sb.campaign = p.camp_b
         |ORDER BY p.camp_a, p.camp_b""".stripMargin
  )
}
