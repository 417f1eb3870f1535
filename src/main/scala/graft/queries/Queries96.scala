package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF
import graft.queries.IntIdioms.{revE4, RevE4Sql}

/** Round-9 batch #16 — lifecycle dynamics, supplier operations, cohort
  * economics, and the DSIR sampling *materialization*:
  *
  *  - `segment_migration`: the RFM transition matrix — every purchaser
  *    scored twice with `rfm_segments`' exact quintile algebra, once per
  *    half of the purchase-date range (recency relative to the half's own
  *    last day), then the (segment_before, segment_after) flow counts.
  *    The ntile windows run PARTITION BY half (one shuffle scores both
  *    halves); the per-user pivot is a two-value conditional max on the
  *    already-shuffled user key. The matrix a CRM team reads for "which
  *    segments leak".
  *  - `supplier_scorecard`: per-supplier operations panel — exact e4
  *    revenue, item/order/part counts, return-rate milli, and mean
  *    ship-latency days (truncating integer division — the synthetic
  *    shipdate can precede the orderdate). One fact shuffle on
  *    the order key to fetch o_orderdate, one map-side-combined supplier
  *    aggregation, supplier + nation dims broadcast.
  *  - `cohort_revenue_triangle`: the classic cohort-economics triangle —
  *    revenue and active-purchaser counts by (first-purchase week ×
  *    weeks-since-first), `retention_cohorts`' exact 7-day integer grid
  *    (the corpus spans 30 days, so weeks are the meaningful grain).
  *    `retention_cohorts` counts presence; this prices it. Two user-key
  *    aggregations AQE co-partitions, then a tiny matrix aggregate.
  *  - `importance_sample`: DSIR made into an actual sampler — acceptance
  *    probability from the shared `Queries15.dsirLogw` weight (clamped
  *    affine map to [10, 1000] milli; the floor keeps every stratum
  *    reachable, the cap is certainty), Bernoulli draw = 4 salted md5
  *    nibbles of doc_id mod 1000 — deterministic, order- and
  *    partitioning-invariant, re-run-stable, like `split_holdout`. Output
  *    is the kept rows with weight, probability, and draw (the resample
  *    a DSIR paper actually trains on). Narrow per-doc projection;
  *    selectivity is data-dependent but the plan is one scan.
  */
object Queries96 extends QuerySet {
  private val DayUs = 86400000000L
  private val WeekUs = 7L * DayUs

  /** 3-digit RFM code via quintile ntiles inside one `half` partition. */
  private def rfmInHalf(p: DataFrame): DataFrame = {
    val perUser = p.groupBy("half", "user_id")
      .agg(max("day").as("last_day"), count(lit(1)).as("freq"),
        sum("cents").as("mon_cents"))
      .withColumn("rec_days",
        max("last_day").over(Window.partitionBy("half")) - col("last_day"))
    perUser
      .withColumn("r_score", ntile(5).over(
        Window.partitionBy("half").orderBy(col("rec_days"), col("user_id"))))
      .withColumn("f_score", ntile(5).over(
        Window.partitionBy("half").orderBy(col("freq").desc, col("user_id"))))
      .withColumn("m_score", ntile(5).over(
        Window.partitionBy("half").orderBy(col("mon_cents").desc, col("user_id"))))
      .select(col("half"), col("user_id"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
          .cast("bigint").as("segment"))
  }

  /** Uniform milli draw: 4 salted md5 hex nibbles of doc_id mod 1000. */
  private def drawMilli(id: Column): Column = {
    val h = md5(concat(lit("imp:"), id.cast("string")).cast("binary"))
    val v = Seq(1, 2, 3, 4).map(i => Queries15.nibVal(substring(h, i, 1)))
      .reduce((a, b) => a * 16 + b)
    (v % 1000).cast("bigint")
  }

  private def drawMilliSql: String = {
    val h = "md5(concat('imp:', CAST(doc_id AS VARCHAR)))"
    val v = Seq(1, 2, 3, 4).map(i => Queries15.nibSql(s"substr($h, $i, 1)"))
      .reduce((a, b) => s"($a * 16 + $b)")
    s"CAST(($v % 1000) AS BIGINT)"
  }

  val defs: Map[String, Q] = Map(
    "segment_migration" -> { (sp, dir) =>
      val p = Tables.events(sp, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"),
          round(col("value") * 100).cast("bigint").as("cents"))
      val bounds = p.agg(min("day").as("d0"), max("day").as("d1"))
      // second half starts at the ceiling midpoint (non-negative: div safe)
      val tagged = p.crossJoin(broadcast(bounds))
        .withColumn("half",
          when(col("day") < expr("d0 + (d1 - d0 + 1) div 2"), 0L)
            .otherwise(1L))
        .select("half", "user_id", "day", "cents")
      val seg = rfmInHalf(tagged)
      val both = seg.groupBy("user_id")
        .agg(max(when(col("half") === 0, col("segment"))).as("seg_before"),
          max(when(col("half") === 1, col("segment"))).as("seg_after"))
        .filter(col("seg_before").isNotNull && col("seg_after").isNotNull)
      both.groupBy("seg_before", "seg_after")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("seg_before", "seg_after")
    },

    "supplier_scorecard" -> { (sp, dir) =>
      val ord = Tables.orders(sp, dir).select(col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("odate_us"))
      val li = Tables.lineitem(sp, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_partkey"),
          col("l_returnflag"),
          unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us"),
          revE4(col("l_extendedprice"), col("l_discount")).as("rev"))
      val per = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_suppkey")
        .agg(sum("rev").as("revenue_e4"), count(lit(1)).as("n_items"),
          countDistinct("l_orderkey").as("n_orders"),
          countDistinct("l_partkey").as("n_parts"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"),
          // the synthetic shipdate can precede the orderdate: Spark's div
          // and DuckDB's integer // both truncate toward zero
          sum(expr(s"(ship_us - odate_us) div $DayUs")).as("lat_days_sum"))
      val supp = broadcast(Tables.supplier(sp, dir)
        .join(Tables.nation(sp, dir), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name").as("nation")))
      per.join(supp, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("nation"),
          col("revenue_e4"), col("n_items"), col("n_orders"), col("n_parts"),
          expr("n_returned * 1000 div n_items").as("return_milli"),
          expr("lat_days_sum div n_items").as("mean_latency_days"))
        .orderBy("s_suppkey")
    },

    "cohort_revenue_triangle" -> { (sp, dir) =>
      val p = Tables.events(sp, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), expr(s"ts_us div $WeekUs").as("wk"),
          round(col("value") * 100).cast("bigint").as("cents"))
      val cohorts = p.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      p.join(cohorts, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(countDistinct("user_id").as("n_users"),
          sum("cents").as("revenue_cents"))
        .orderBy("cohort_wk", "week_offset")
    },

    "importance_sample" -> { (sp, dir) =>
      // materialize (doc_id, logw) FIRST: every downstream reference —
      // the halving and the pushed-down acceptance filter — would otherwise inline the interpreted HOF scorer and
      // re-run it per reference (measured 16 s at sf0.1; the barrier is a
      // two-long-column table and the query drops to the scorer's cost)
      val weights = graft.util.CacheScope.track(
        Tables.documents(sp, dir)
          .select(col("doc_id"), Queries15.dsirLogw(col("text")).as("logw_milli")))
      weights.count()
      weights
        .withColumn("p_milli",
          least(lit(1000L), greatest(lit(10L),
            lit(500L) + expr("logw_milli div 2"))))
        .withColumn("draw", drawMilli(col("doc_id")))
        .filter(col("draw") < col("p_milli"))
        .orderBy("doc_id")
    }
  )

  val oracles: Map[String, String] = Map(
    "segment_migration" ->
      s"""WITH p AS (
         |  SELECT user_id, epoch_us(ts) // $DayUs AS day,
         |    CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'
         |), b AS (SELECT min(day) AS d0, max(day) AS d1 FROM p),
         |tagged AS (
         |  SELECT CASE WHEN day < b.d0 + (b.d1 - b.d0 + 1) // 2 THEN 0 ELSE 1 END AS half,
         |    user_id, day, cents
         |  FROM p, b
         |), per_user AS (
         |  SELECT half, user_id, max(day) AS last_day, count(*) AS freq,
         |    sum(cents) AS mon_cents
         |  FROM tagged GROUP BY 1, 2
         |), rec AS (
         |  SELECT half, user_id, max(last_day) OVER (PARTITION BY half) - last_day
         |    AS rec_days, freq, mon_cents
         |  FROM per_user
         |), scored AS (
         |  SELECT half, user_id,
         |    ntile(5) OVER (PARTITION BY half ORDER BY rec_days, user_id) * 100 +
         |    ntile(5) OVER (PARTITION BY half ORDER BY freq DESC, user_id) * 10 +
         |    ntile(5) OVER (PARTITION BY half ORDER BY mon_cents DESC, user_id)
         |      AS segment
         |  FROM rec
         |), pivoted AS (
         |  SELECT user_id,
         |    max(CASE WHEN half = 0 THEN segment END) AS seg_before,
         |    max(CASE WHEN half = 1 THEN segment END) AS seg_after
         |  FROM scored GROUP BY 1
         |)
         |SELECT CAST(seg_before AS BIGINT) AS seg_before,
         |  CAST(seg_after AS BIGINT) AS seg_after,
         |  CAST(count(*) AS BIGINT) AS n_users
         |FROM pivoted
         |WHERE seg_before IS NOT NULL AND seg_after IS NOT NULL
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "supplier_scorecard" ->
      s"""WITH per AS (
         |  SELECT l_suppkey,
         |    CAST(sum($RevE4Sql) AS BIGINT) AS revenue_e4,
         |    CAST(count(*) AS BIGINT) AS n_items,
         |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
         |    CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
         |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_returned,
         |    CAST(sum((epoch_us(l_shipdate) - epoch_us(CAST(o_orderdate AS TIMESTAMP))) // $DayUs)
         |      AS BIGINT) AS lat_days_sum
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1
         |)
         |SELECT s_suppkey, s_name, n_name AS nation, revenue_e4, n_items, n_orders,
         |  n_parts,
         |  CAST(n_returned * 1000 // n_items AS BIGINT) AS return_milli,
         |  CAST(lat_days_sum // n_items AS BIGINT) AS mean_latency_days
         |FROM per
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |ORDER BY s_suppkey""".stripMargin,

    "cohort_revenue_triangle" ->
      s"""WITH p AS (
         |  SELECT user_id, epoch_us(ts) // $WeekUs AS wk,
         |    CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'
         |), c AS (SELECT user_id, min(wk) AS cohort_wk FROM p GROUP BY 1)
         |SELECT CAST(c.cohort_wk AS BIGINT) AS cohort_wk,
         |  CAST(p.wk - c.cohort_wk AS BIGINT) AS week_offset,
         |  CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users,
         |  CAST(sum(p.cents) AS BIGINT) AS revenue_cents
         |FROM p JOIN c ON p.user_id = c.user_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "importance_sample" -> {
      val normSql = TextF.NormalizeTextSql
      val toksSql = TextF.TokensSql
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    CASE WHEN $normSql = '' THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS t
         |  FROM documents
         |), w AS (
         |  SELECT doc_id, CAST(${Queries15.dsirLogwSqlOverT} AS BIGINT) AS logw_milli
         |  FROM toks
         |), pr AS (
         |  SELECT doc_id, logw_milli,
         |    least(1000, greatest(10, 500 + logw_milli // 2)) AS p_milli,
         |    $drawMilliSql AS draw
         |  FROM w
         |)
         |SELECT doc_id, logw_milli, CAST(p_milli AS BIGINT) AS p_milli, draw
         |FROM pr WHERE draw < p_milli ORDER BY doc_id""".stripMargin
    }
  )
}
