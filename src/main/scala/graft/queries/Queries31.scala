package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #3 — event-analytics classics:
  *
  *  - `ordered_funnel`: the ORDERED funnel (view → click → purchase, each
  *    step strictly after the previous, all within a 7-day window of the
  *    first view) — unlike `funnel_counts`' unordered membership profile,
  *    this is the sequence-constrained conversion every product-analytics
  *    tool reports. Three chained per-user conditional-min aggregates on
  *    ONE key (AQE co-locates the re-aggregations); conversion in exact
  *    basis points.
  *  - `basket_rules`: market-basket association rules over (user, day)
  *    baskets — pair support / confidence / lift in exact milli units,
  *    top-20 by lift. The a-priori first pass: distinct (basket, item),
  *    within-basket pair join (bounded by basket size, never corpus²),
  *    broadcast item counts.
  */
object Queries31 extends QuerySet {
  /** Funnel window: 7 days in epoch micros. */
  private val FunnelWindowUs = 7L * 86400000000L

  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "ordered_funnel" -> { (sp, dir) =>
      val ev = graft.util.CacheScope.track(Tables.events(sp, dir)
        .select(col("user_id"), col("event_type"), col("ts_us")))
      ev.count() // three step aggregates scan it
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, Seq("user_id"))
        .filter(col("ts_us") > col("t1") && col("ts_us") <= col("t1") + FunnelWindowUs)
        .groupBy("user_id").agg(min("ts_us").as("t2"), min("t1").as("t1k"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id"))
        .filter(col("ts_us") > col("t2") && col("ts_us") <= col("t1k") + FunnelWindowUs)
        .groupBy("user_id").agg(min("ts_us").as("t3"))
      val out = s1.agg(count(lit(1)).as("n_step1")).crossJoin(
        s2.agg(count(lit(1)).as("n_step2"))).crossJoin(
        s3.agg(count(lit(1)).as("n_step3")))
      out.select(col("n_step1"), col("n_step2"), col("n_step3"),
        expr("(10000 * n_step2) div n_step1").as("s2_bp"),
        expr("(10000 * n_step3) div n_step1").as("s3_bp"))
    },

    "basket_rules" -> { (sp, dir) =>
      val items = graft.util.CacheScope.track(Tables.events(sp, dir)
        .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"),
          expr("CAST(get_json_object(props, '$.k') AS BIGINT) div 10").as("item"))
        .distinct())
      items.count() // pair join + both item-count joins scan it
      val nBaskets = items.select(col("user_id"), col("day")).distinct().count()
      val itemCnt = items.groupBy("item").agg(count(lit(1)).as("c"))
      val pairs = items.select(col("user_id"), col("day"), col("item").as("ia"))
        .join(items.select(col("user_id"), col("day"), col("item").as("ib")),
          Seq("user_id", "day"))
        .filter(col("ia") < col("ib"))
        .groupBy("ia", "ib").agg(count(lit(1)).as("c_xy"))
      pairs
        .join(broadcast(itemCnt.select(col("item").as("ia"), col("c").as("c_x"))), Seq("ia"))
        .join(broadcast(itemCnt.select(col("item").as("ib"), col("c").as("c_y"))), Seq("ib"))
        .select(col("ia"), col("ib"), col("c_xy"), col("c_x"), col("c_y"),
          expr(s"(1000 * c_xy) div $nBaskets").as("support_milli"),
          expr("(1000 * c_xy) div c_x").as("confidence_milli"),
          expr(s"(1000 * c_xy * $nBaskets) div (c_x * c_y)").as("lift_milli"))
        .orderBy(col("lift_milli").desc, col("ia"), col("ib"))
        .limit(20)
    }
  )

  val oracles: Map[String, String] = Map(
    "ordered_funnel" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
         |),
         |s1 AS (
         |  SELECT user_id, min(ts_us) AS t1 FROM ev
         |  WHERE event_type = 'view' GROUP BY user_id
         |),
         |s2 AS (
         |  SELECT e.user_id, min(e.ts_us) AS t2, min(s1.t1) AS t1k
         |  FROM ev e JOIN s1 ON e.user_id = s1.user_id
         |  WHERE e.event_type = 'click' AND e.ts_us > s1.t1
         |    AND e.ts_us <= s1.t1 + $FunnelWindowUs
         |  GROUP BY e.user_id
         |),
         |s3 AS (
         |  SELECT e.user_id, min(e.ts_us) AS t3
         |  FROM ev e JOIN s2 ON e.user_id = s2.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts_us > s2.t2
         |    AND e.ts_us <= s2.t1k + $FunnelWindowUs
         |  GROUP BY e.user_id
         |)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_step1,
         |  (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_step2,
         |  (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_step3,
         |  ((SELECT 10000 * CAST(count(*) AS BIGINT) FROM s2)
         |    // (SELECT CAST(count(*) AS BIGINT) FROM s1)) AS s2_bp,
         |  ((SELECT 10000 * CAST(count(*) AS BIGINT) FROM s3)
         |    // (SELECT CAST(count(*) AS BIGINT) FROM s1)) AS s3_bp""".stripMargin,

    "basket_rules" ->
      s"""WITH items AS (
         |  SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day,
         |    CAST(json_extract(props, '$$.k') AS BIGINT) // 10 AS item
         |  FROM events
         |),
         |nb AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_baskets
         |  FROM (SELECT DISTINCT user_id, day FROM items) b
         |),
         |cnt AS (
         |  SELECT item, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY item
         |),
         |pairs AS (
         |  SELECT a.item AS ia, b.item AS ib, CAST(count(*) AS BIGINT) AS c_xy
         |  FROM items a JOIN items b
         |    ON a.user_id = b.user_id AND a.day = b.day AND a.item < b.item
         |  GROUP BY a.item, b.item
         |)
         |SELECT ia, ib, c_xy, ca.c AS c_x, cb.c AS c_y,
         |  (1000 * c_xy) // n_baskets AS support_milli,
         |  (1000 * c_xy) // ca.c AS confidence_milli,
         |  (1000 * c_xy * n_baskets) // (ca.c * cb.c) AS lift_milli
         |FROM pairs
         |JOIN cnt ca ON ca.item = pairs.ia
         |JOIN cnt cb ON cb.item = pairs.ib, nb
         |ORDER BY lift_milli DESC, ia, ib LIMIT 20""".stripMargin
  )
}
