package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-12 batch #19 — text composition, navigation loops, and
  * acquisition quality:
  *
  *  - `numeric_density`: share of numeric tokens per source plus the
  *    count of number-dominated docs (> 50%) — the tables-as-text /
  *    serialized-data screen (a "document" that is mostly digits is a
  *    CSV dump, not prose; Gopher-style filters gate on it). One in-row
  *    filter fold + a bounded rollup.
  *  - `pingpong_rate`: A→B→A navigation loops — the share of journey
  *    trigrams that bounce straight back, per (a, b) pair: the
  *    UX-friction read on journey_trigrams' machinery (a high ping-pong
  *    rate between two views means a missing affordance on B).
  *  - `first_value_ltv`: later lifetime value by FIRST-order value
  *    quintile — does a big first basket predict a big customer? Exact
  *    rank quintiles over first orders, then mean later-LTV per quintile
  *    in milli-cents: the acquisition-quality read behind ltv_curve.
  */
object Queries176 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "numeric_density" -> { (sp, dir) =>
      val toks = TextF.tokens(col("text"))
      Tables.documents(sp, dir)
        .select(col("source"),
          size(toks).cast("long").as("n_toks"),
          size(filter(toks, t => t.rlike("^[0-9]+$"))).cast("long").as("n_num"))
        .filter(col("n_toks") > 0)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_toks").as("tokens"),
          sum("n_num").as("numeric_tokens"),
          sum(when(col("n_num") * 2 > col("n_toks"), 1L).otherwise(0L))
            .as("number_dominated"))
        .withColumn("numeric_pm", expr("numeric_tokens * 1000 div tokens"))
        .orderBy("source")
    },

    "pingpong_rate" -> { (sp, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val tri = Tables.events(sp, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
        .withColumn("t1", lag("event_type", 2).over(w))
        .withColumn("t2", lag("event_type", 1).over(w))
        .filter(col("t1").isNotNull)
      val total = tri.count() // plan-time scalar (one agg)
      tri.filter(col("t1") === col("event_type") && col("t1") =!= col("t2"))
        .groupBy(col("t1").as("a"), col("t2").as("b"))
        .agg(count(lit(1)).as("n_loops"))
        .withColumn("share_pm_e3", expr(s"n_loops * 1000000 div $total"))
        .orderBy("a", "b")
    },

    "first_value_ltv" -> { (sp, dir) =>
      val orders = Tables.orders(sp, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("ord_us"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val w = Window.partitionBy("o_custkey").orderBy("ord_us", "o_orderkey")
      val marked = orders.withColumn("rk", row_number().over(w))
      val firsts = marked.filter(col("rk") === 1)
        .select(col("o_custkey"), col("cents").as("first_cents"))
      val later = marked.filter(col("rk") > 1)
        .groupBy("o_custkey").agg(sum("cents").as("later_cents"),
          count(lit(1)).as("later_orders"))
      val joined = firsts.join(later, Seq("o_custkey"), "left")
        .select(col("o_custkey"), col("first_cents"),
          coalesce(col("later_cents"), lit(0L)).as("later_cents"),
          coalesce(col("later_orders"), lit(0L)).as("later_orders"))
      val ranked = joined
        .withColumn("frk", row_number().over(Window.orderBy("first_cents", "o_custkey")))
        .withColumn("n", count(lit(1)).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("quintile", expr("least((frk - 1) * 5 div n, 4)"))
      ranked.groupBy("quintile")
        .agg(count(lit(1)).as("n_customers"),
          expr("sum(first_cents) div count(1)").as("mean_first_cents"),
          expr("sum(later_cents) div count(1)").as("mean_later_cents"),
          expr("sum(later_orders) * 1000 div count(1)").as("mean_later_orders_milli"))
        .orderBy("quintile")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "numeric_density" -> {
      val toks = TextF.TokensSql
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS tokens,
         |  CAST(sum(n_num) AS BIGINT) AS numeric_tokens,
         |  CAST(sum(CASE WHEN n_num * 2 > n_toks THEN 1 ELSE 0 END) AS BIGINT)
         |    AS number_dominated,
         |  CAST(sum(n_num) * 1000 // sum(n_toks) AS BIGINT) AS numeric_pm
         |FROM (
         |  SELECT source, CAST(len(toks) AS BIGINT) AS n_toks,
         |    CAST(len(list_filter(toks, t -> regexp_full_match(t, '[0-9]+'))) AS BIGINT)
         |      AS n_num
         |  FROM (SELECT source, $toks AS toks FROM documents) t0) t1
         |WHERE n_toks > 0
         |GROUP BY source ORDER BY source""".stripMargin
    },

    "pingpong_rate" ->
      """WITH tri AS (
        |  SELECT t1, t2, event_type AS t3 FROM (
        |    SELECT event_type,
        |      lag(event_type, 2) OVER w AS t1, lag(event_type, 1) OVER w AS t2
        |    FROM events
        |    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) t
        |  WHERE t1 IS NOT NULL),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tri)
        |SELECT t1 AS a, t2 AS b, CAST(count(*) AS BIGINT) AS n_loops,
        |  CAST(count(*) * 1000000 // (SELECT n FROM tot) AS BIGINT) AS share_pm_e3
        |FROM tri WHERE t1 = t3 AND t1 <> t2
        |GROUP BY 1, 2 ORDER BY a, b""".stripMargin,

    "first_value_ltv" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey,
        |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS ord_us,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY epoch_us(CAST(o_orderdate AS TIMESTAMP)), o_orderkey) AS rk
        |  FROM orders),
        |firsts AS (SELECT o_custkey, cents AS first_cents FROM o WHERE rk = 1),
        |later AS (
        |  SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS later_cents,
        |    CAST(count(*) AS BIGINT) AS later_orders
        |  FROM o WHERE rk > 1 GROUP BY 1),
        |joined AS (
        |  SELECT f.o_custkey, f.first_cents,
        |    coalesce(l.later_cents, 0) AS later_cents,
        |    coalesce(l.later_orders, 0) AS later_orders
        |  FROM firsts f LEFT JOIN later l ON l.o_custkey = f.o_custkey),
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY first_cents, o_custkey) AS frk,
        |    count(*) OVER () AS n
        |  FROM joined)
        |SELECT CAST(least((frk - 1) * 5 // n, 4) AS BIGINT) AS quintile,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(first_cents) // count(*) AS BIGINT) AS mean_first_cents,
        |  CAST(sum(later_cents) // count(*) AS BIGINT) AS mean_later_cents,
        |  CAST(sum(later_orders) * 1000 // count(*) AS BIGINT) AS mean_later_orders_milli
        |FROM ranked GROUP BY 1 ORDER BY quintile""".stripMargin
  )
}
