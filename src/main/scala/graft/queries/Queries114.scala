package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.IntIdioms.tdivSql

/** Round-9 batch #34 — experiment methodology + lakehouse ops:
  *
  *  - `ab_cuped`: CUPED variance reduction for the `ab_lift` experiment —
  *    the industry-standard pre-period adjustment (Deng et al., WSDM'13):
  *    θ = cov(pre, post)/var(pre) fitted POOLED across arms from exact
  *    integer moments (the `price_elasticity` recipe), then each arm's
  *    post-period spend mean shifted by θ·(arm pre-mean − overall
  *    pre-mean). Pre/post split at the global time midpoint ((min+max)/2,
  *    one broadcast scalar row); spend in whole dollars so every moment
  *    stays overflow-safe at any probe scale; all divisions truncate.
  *    Same md5 arm assignment as ab_lift, so the two tables read together.
  *  - `compaction_plan`: the small-file compaction planner — day-grain
  *    file manifest (bytes modeled at 200 B/row), sorted next-fit binning
  *    into 64 KB targets via a running-sum window, per-bin fill report.
  *    The manifest is bounded by the date range, never the row count, so
  *    the unpartitioned cumsum window rides on ~thousands of rows at any
  *    scale; the scale-bearing work is the one day-keyed count.
  */
object Queries114 extends QuerySet {
  private[queries] val FileRowBytes = 200L
  private[queries] val BinTarget = 64000L

  val defs: Map[String, Q] = Map(
    "ab_cuped" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
      val bounds = ev.agg(min("ts_us").as("mn"), max("ts_us").as("mx"))
      val spend = ev.filter(col("event_type") === "purchase")
        .crossJoin(broadcast(bounds))
        .select(col("user_id"),
          when(col("ts_us") <= expr("(mn + mx) div 2"),
            expr("cast(round(value * 100) as bigint) div 100")).otherwise(lit(0L)).as("pre"),
          when(col("ts_us") > expr("(mn + mx) div 2"),
            expr("cast(round(value * 100) as bigint) div 100")).otherwise(lit(0L)).as("post"))
        .groupBy("user_id").agg(sum("pre").as("x"), sum("post").as("y"))
      val u = ev.select(col("user_id")).distinct()
        .withColumn("arm_a",
          substring(md5(concat(lit("ab"), col("user_id")).cast("binary")), 1, 1) <= "7")
        .join(spend, Seq("user_id"), "left")
        .select(col("arm_a"), coalesce(col("x"), lit(0L)).as("x"),
          coalesce(col("y"), lit(0L)).as("y"))
      val pooled = u.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      val theta = "(n * sxy - sx * sy) * 1000 div (n * sxx - sx * sx)"
      u.groupBy("arm_a")
        .agg(count(lit(1)).as("n_users"), sum("x").as("sx_a"), sum("y").as("sy_a"))
        .crossJoin(broadcast(pooled))
        .select(when(col("arm_a"), "A").otherwise("B").as("arm"), col("n_users"),
          expr("sx_a * 1000 div n_users").as("mean_pre_milli"),
          expr("sy_a * 1000 div n_users").as("mean_post_milli"),
          expr(theta).as("theta_milli"),
          expr("sy_a * 1000 div n_users - " +
            s"($theta) * (sx_a * 1000 div n_users - sx * 1000 div n) div 1000")
            .as("adj_post_milli"))
        .orderBy("arm")
    },

    "compaction_plan" -> { (sp, dir) =>
      val files = Tables.orders(sp, dir)
        .groupBy(expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").as("day"))
        .agg((count(lit(1)) * FileRowBytes).as("bytes"))
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
      files
        .withColumn("cumb", coalesce(sum("bytes").over(w), lit(0L)))
        .withColumn("bin", expr(s"cumb div $BinTarget"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_files"), sum("bytes").as("total_bytes"),
          min("day").as("first_day"), max("day").as("last_day"))
        .withColumn("fill_milli", expr(s"total_bytes * 1000 div $BinTarget"))
        .select(col("bin"), col("n_files"), col("total_bytes"), col("fill_milli"),
          col("first_day"), col("last_day"))
        .orderBy("bin")
    }
  )

  val oracles: Map[String, String] = Map(
    "ab_cuped" -> {
      val theta = tdivSql("(n * sxy - sx * sy) * 1000", "(n * sxx - sx * sx)")
      s"""WITH bounds AS (
         |  SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS mn,
         |    CAST(max(epoch_us(ts)) AS BIGINT) AS mx
         |  FROM events
         |),
         |spend AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN epoch_us(ts) <= (b.mn + b.mx) // 2
         |      THEN CAST(round(value * 100) AS BIGINT) // 100 ELSE 0 END) AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN epoch_us(ts) > (b.mn + b.mx) // 2
         |      THEN CAST(round(value * 100) AS BIGINT) // 100 ELSE 0 END) AS BIGINT) AS y
         |  FROM events CROSS JOIN bounds b
         |  WHERE event_type = 'purchase' GROUP BY user_id
         |),
         |u AS (
         |  SELECT substring(md5(concat('ab', d.user_id)), 1, 1) <= '7' AS arm_a,
         |    coalesce(s.x, 0) AS x, coalesce(s.y, 0) AS y
         |  FROM (SELECT DISTINCT user_id FROM events) d
         |  LEFT JOIN spend s ON s.user_id = d.user_id
         |),
         |pooled AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx
         |  FROM u
         |),
         |arms AS (
         |  SELECT arm_a, CAST(count(*) AS BIGINT) AS n_users,
         |    CAST(sum(x) AS BIGINT) AS sx_a, CAST(sum(y) AS BIGINT) AS sy_a
         |  FROM u GROUP BY arm_a
         |)
         |SELECT CASE WHEN arm_a THEN 'A' ELSE 'B' END AS arm, n_users,
         |  CAST(sx_a * 1000 // n_users AS BIGINT) AS mean_pre_milli,
         |  CAST(sy_a * 1000 // n_users AS BIGINT) AS mean_post_milli,
         |  $theta AS theta_milli,
         |  CAST(sy_a * 1000 // n_users - ${tdivSql(s"($theta) * (sx_a * 1000 // n_users - sx * 1000 // n)", "1000")} AS BIGINT)
         |    AS adj_post_milli
         |FROM arms CROSS JOIN pooled ORDER BY arm""".stripMargin
    },

    "compaction_plan" ->
      s"""WITH files AS (
         |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS day,
         |    CAST(count(*) * $FileRowBytes AS BIGINT) AS bytes
         |  FROM orders GROUP BY 1
         |),
         |binned AS (
         |  SELECT day, bytes,
         |    coalesce(sum(bytes) OVER (ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $BinTarget AS bin
         |  FROM files
         |)
         |SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_files,
         |  CAST(sum(bytes) AS BIGINT) AS total_bytes,
         |  CAST(sum(bytes) * 1000 // $BinTarget AS BIGINT) AS fill_milli,
         |  CAST(min(day) AS BIGINT) AS first_day, CAST(max(day) AS BIGINT) AS last_day
         |FROM binned GROUP BY bin ORDER BY bin""".stripMargin
  )
}
