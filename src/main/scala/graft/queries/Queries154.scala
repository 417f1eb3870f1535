package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #74 — assortment coverage + engagement depth:
  *
  *  - `catalog_coverage`: the dead-stock tiers — every part bucketed by
  *    lifetime demand (never ordered / below-25 / 25-34 / 35+ lineitems — cuts bracketing the corpus median so the tiers separate)
  *    with part counts and demand mass per tier. The left-join-from-
  *    the-dimension shape (parts with ZERO facts must appear — an
  *    inner join silently hides exactly the rows this report exists
  *    for).
  *  - `touches_vs_conversion`: conversion rate by engagement depth —
  *    users bucketed by click count (0 / 1-2 / 3-5 / 6+), each bucket's
  *    purchase rate in exact milli. The dose-response curve behind
  *    every "engaged users convert more" claim. */
object Queries154 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "catalog_coverage" -> { (sp, dir) =>
      val demand = Tables.lineitem(sp, dir)
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(count(lit(1)).as("n_lines"), sum(col("l_quantity").cast("bigint")).as("qty"))
      val tiers = Tables.part(sp, dir).select(col("p_partkey"))
        .join(demand, Seq("p_partkey"), "left")
        .withColumn("n_lines", coalesce(col("n_lines"), lit(0L)))
        .withColumn("qty", coalesce(col("qty"), lit(0L)))
        .withColumn("tier",
          when(col("n_lines") === 0, "0_never")
            .when(col("n_lines") < 25, "1_low")
            .when(col("n_lines") < 35, "2_mid")
            .otherwise("3_high"))
      val tot = tiers.agg(count(lit(1)).as("n_parts_all"))
      tiers.groupBy("tier")
        .agg(count(lit(1)).as("n_parts"), sum("n_lines").as("lines"),
          sum("qty").as("qty"))
        .crossJoin(broadcast(tot))
        .select(col("tier"), col("n_parts"),
          expr("n_parts * 1000 div n_parts_all").as("part_share_milli"),
          col("lines"), col("qty"))
        .orderBy("tier")
    },

    "touches_vs_conversion" -> { (sp, dir) =>
      val per = Tables.events(sp, dir)
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
        .withColumn("bucket",
          when(col("clicks") === 0, "0")
            .when(col("clicks") <= 2, "1-2")
            .when(col("clicks") <= 5, "3-5")
            .otherwise("6+"))
      per.groupBy("bucket")
        .agg(count(lit(1)).as("n_users"), sum("conv").as("n_converted"))
        .withColumn("cvr_milli", expr("n_converted * 1000 div n_users"))
        .orderBy("bucket")
    }
  )

  val oracles: Map[String, String] = Map(
    "catalog_coverage" ->
      s"""WITH demand AS (
         |  SELECT l_partkey AS p_partkey, CAST(count(*) AS BIGINT) AS n_lines,
         |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
         |  FROM lineitem GROUP BY 1
         |),
         |tiers AS (
         |  SELECT p.p_partkey, coalesce(d.n_lines, 0) AS n_lines, coalesce(d.qty, 0) AS qty,
         |    CASE WHEN coalesce(d.n_lines, 0) = 0 THEN '0_never'
         |         WHEN coalesce(d.n_lines, 0) < 25 THEN '1_low'
         |         WHEN coalesce(d.n_lines, 0) < 35 THEN '2_mid'
         |         ELSE '3_high' END AS tier
         |  FROM part p LEFT JOIN demand d ON d.p_partkey = p.p_partkey
         |),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_parts_all FROM tiers)
         |SELECT tier, CAST(count(*) AS BIGINT) AS n_parts,
         |  CAST(count(*) * 1000 // tot.n_parts_all AS BIGINT) AS part_share_milli,
         |  CAST(sum(n_lines) AS BIGINT) AS lines, CAST(sum(qty) AS BIGINT) AS qty
         |FROM tiers, tot GROUP BY tier, tot.n_parts_all ORDER BY tier""".stripMargin,

    "touches_vs_conversion" ->
      s"""WITH per AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
         |  FROM events GROUP BY user_id
         |)
         |SELECT CASE WHEN clicks = 0 THEN '0' WHEN clicks <= 2 THEN '1-2'
         |            WHEN clicks <= 5 THEN '3-5' ELSE '6+' END AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_users,
         |  CAST(sum(conv) AS BIGINT) AS n_converted,
         |  CAST(sum(conv) * 1000 // count(*) AS BIGINT) AS cvr_milli
         |FROM per GROUP BY 1 ORDER BY bucket""".stripMargin
  )
}
