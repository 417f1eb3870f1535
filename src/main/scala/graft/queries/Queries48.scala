package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #20 — optimizer statistics and sliding funnels:
  *
  *  - `equi_depth_hist`: the equi-depth (equi-height) histogram a
  *    cost-based optimizer keeps per column — 10 bucket boundaries at
  *    exact n/k ranks over lineitem's net price, with per-bucket counts
  *    (ties land in the lower bucket, so depths are deterministic, not
  *    uniform). Rank arithmetic over one global window — at CBO scale the
  *    same boundaries come from a hash sample (`quantile_sketch` pattern).
  *  - `funnel_window_levels`: the SLIDING-window funnel (ClickHouse's
  *    windowFunnel shape): per user the deepest view → click → purchase
  *    prefix completed within ONE day of its anchoring view, reported as
  *    a level histogram. Unlike `ordered_funnel` (anchored at the global
  *    first view), any view can anchor a window — the existence checks
  *    are user-keyed chain joins, bounded by per-user event counts.
  */
object Queries48 extends QuerySet {
  private val HistK = 10
  private val FunnelWinUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "equi_depth_hist" -> { (sp, dir) =>
      // r15: the old global row_number() over every lineitem row was one
      // single-partition task over the row domain (×10 probe read 8.33×).
      // Bucket depth and per-bucket min/max depend ONLY on how many rows of
      // each distinct value land in each rank stripe, so rank arithmetic
      // runs on the (value, count) HISTOGRAM: a two-level cumulative offset
      // over the bounded cents domain (spearman_rho's chunk trick) gives
      // each value its global rank run [voff+1, voff+cnt], and each run
      // overlaps ≤ K+1 rank stripes — exploded and counted exactly. Output
      // is bit-identical to the ranked spelling (intra-value order never
      // mattered), with no row-proportional single task anywhere.
      val vals = Tables.lineitem(sp, dir)
        .select(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("bigint").as("v"))
        .groupBy("v").agg(count(lit(1)).as("cnt"))
      val withVb = vals.withColumn("vb", expr("v div 8192"))
      val bOff = withVb.groupBy("vb").agg(sum("cnt").as("bc"))
        .withColumn("boff", coalesce(sum("bc").over(
          Window.orderBy("vb").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("vb", "boff")
      val voff = withVb
        .withColumn("woff", coalesce(sum("cnt").over(
          Window.partitionBy("vb").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .join(bOff, Seq("vb"))
        .withColumn("voff", col("boff") + col("woff"))
      val tot = vals.agg(sum("cnt").as("n"))
      voff.crossJoin(broadcast(tot))
        .withColumn("b_lo", expr(s"$HistK * voff div n"))
        .withColumn("b_hi", expr(s"$HistK * (voff + cnt - 1) div n"))
        .withColumn("bucket", explode(expr("sequence(b_lo, b_hi)")))
        // rank stripe b covers zero-based ranks [ceil(bn/K), ceil((b+1)n/K))
        .withColumn("r_lo", expr(s"greatest(voff, (bucket * n + ${HistK - 1}) div $HistK)"))
        .withColumn("r_hi", expr(
          s"least(voff + cnt - 1, ((bucket + 1) * n + ${HistK - 1}) div $HistK - 1)"))
        .groupBy("bucket")
        .agg(sum(col("r_hi") - col("r_lo") + 1).as("depth"),
          min("v").as("lo_cents"), max("v").as("hi_cents"))
        .orderBy("bucket")
    },

    "funnel_window_levels" -> { (sp, dir) =>
      val ev = graft.util.CacheScope.track(Tables.events(sp, dir)
        .select(col("user_id"), col("event_type"), col("ts_us")))
      ev.count() // three step relations scan it
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us").as("tv"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us").as("tc"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").as("tp"))
      val l1 = views.select("user_id").distinct().withColumn("l1", lit(1))
      val l2 = views.join(clicks, Seq("user_id"))
        .filter(col("tc") > col("tv") && col("tc") <= col("tv") + FunnelWinUs)
        .select("user_id").distinct().withColumn("l2", lit(1))
      val l3 = views.join(clicks, Seq("user_id"))
        .filter(col("tc") > col("tv") && col("tc") <= col("tv") + FunnelWinUs)
        .join(purch, Seq("user_id"))
        .filter(col("tp") > col("tc") && col("tp") <= col("tv") + FunnelWinUs)
        .select("user_id").distinct().withColumn("l3", lit(1))
      l1.join(l2, Seq("user_id"), "left").join(l3, Seq("user_id"), "left")
        .select(col("user_id"),
          when(col("l3").isNotNull, 3L).when(col("l2").isNotNull, 2L).otherwise(1L).as("level"))
        .groupBy("level").agg(count(lit(1)).as("n_users"))
        .orderBy("level")
    }
  )

  val oracles: Map[String, String] = Map(
    "equi_depth_hist" ->
      s"""WITH vals AS (
         |  SELECT CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS v,
         |    l_orderkey, l_linenumber
         |  FROM lineitem
         |),
         |ranked AS (
         |  SELECT v, ($HistK * (row_number() OVER (ORDER BY v, l_orderkey, l_linenumber) - 1))
         |      // count(*) OVER () AS bucket
         |  FROM vals
         |)
         |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS depth,
         |  min(v) AS lo_cents, max(v) AS hi_cents
         |FROM ranked GROUP BY bucket ORDER BY bucket""".stripMargin,

    "funnel_window_levels" ->
      s"""WITH v AS (SELECT user_id, epoch_us(ts) AS tv FROM events WHERE event_type = 'view'),
         |c AS (SELECT user_id, epoch_us(ts) AS tc FROM events WHERE event_type = 'click'),
         |p AS (SELECT user_id, epoch_us(ts) AS tp FROM events WHERE event_type = 'purchase'),
         |l1 AS (SELECT DISTINCT user_id FROM v),
         |l2 AS (
         |  SELECT DISTINCT v.user_id FROM v JOIN c ON v.user_id = c.user_id
         |  WHERE c.tc > v.tv AND c.tc <= v.tv + $FunnelWinUs
         |),
         |l3 AS (
         |  SELECT DISTINCT v.user_id
         |  FROM v JOIN c ON v.user_id = c.user_id
         |  JOIN p ON p.user_id = v.user_id
         |  WHERE c.tc > v.tv AND c.tc <= v.tv + $FunnelWinUs
         |    AND p.tp > c.tc AND p.tp <= v.tv + $FunnelWinUs
         |)
         |SELECT level, CAST(count(*) AS BIGINT) AS n_users FROM (
         |  SELECT l1.user_id,
         |    CAST(CASE WHEN l3.user_id IS NOT NULL THEN 3
         |         WHEN l2.user_id IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS level
         |  FROM l1
         |  LEFT JOIN l2 ON l1.user_id = l2.user_id
         |  LEFT JOIN l3 ON l1.user_id = l3.user_id
         |) t GROUP BY level ORDER BY level""".stripMargin
  )
}
