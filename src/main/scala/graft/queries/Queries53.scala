package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #25 — lifecycle temporal analytics:
  *
  *  - `interval_concurrency`: peak number of concurrently-open orders per
  *    month (open = ordered but not yet fully shipped) via the boundary
  *    sweep: +1 at the order day, −1 the day after the last ship. The
  *    corpus-mass work is ONE per-order aggregation + ONE per-day delta
  *    aggregation (map-side combined, keyed on the calendar day); the
  *    running-sum window then runs over the tiny day table — bounded by
  *    the calendar span, never the order count — so the one global-order
  *    window is O(days). (If the change-day table ever outgrew a task, the
  *    `shard_export` two-phase prefix sum is the drop-in shape.) The sweep
  *    samples the running count at every change day PLUS a zero-delta
  *    marker at each month's first day: a plateau carried in from the
  *    previous month (a month that opens high and only declines) is
  *    sampled at the boundary, so the per-month max over sample points is
  *    exactly the max over all days — the carry-in case a change-days-only
  *    sweep silently underestimates (the first spec draft caught it).
  *  - `churn_hazard`: the discrete Kaplan–Meier hazard curve over user
  *    lifespans in days — for each lifespan k: users ending at k
  *    (churned vs censored-at-corpus-end) over users surviving ≥ k; exact
  *    integer milli hazard. One (user) aggregation is the only
  *    corpus-scale shuffle; the suffix-sum window runs over the tiny
  *    lifespan histogram. Users last seen in the corpus's final day are
  *    CENSORED, not churned — they end their interval but never fire the
  *    hazard numerator, exactly the distinction KM exists for.
  */
object Queries53 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "interval_concurrency" -> { (sp, dir) =>
      val perOrder = Tables.lineitem(sp, dir)
        .groupBy("l_orderkey")
        .agg(max(unix_micros(col("l_shipdate").cast("timestamp"))).as("last_ship_us"))
        .join(Tables.orders(sp, dir).select(col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("order_us")),
          col("l_orderkey") === col("o_orderkey"))
        .select(expr(s"order_us div $DayUs").as("start_day"),
          expr(s"last_ship_us div $DayUs + 1").as("close_day"))
        // the synth corpus ships some orders BEFORE their order date (the
        // noise class order_latency/referential_audit report); an inverted
        // interval is meaningless for concurrency, so it's excluded rather
        // than swept as a −1 segment
        .filter(col("close_day") > col("start_day"))
      // the boundary explode AND the month-bounds aggregate both read the
      // per-order table; pin it so the lineitem aggregation runs once
      val perOrderC = graft.util.CacheScope.track(perOrder)
      // both boundary rows from ONE per-order row (in-row explode — the
      // union-of-two-selects spelling re-aggregates lineitem twice)
      val changes = perOrderC.select(explode(array(
        struct(col("start_day").as("day"), lit(1L).as("d")),
        struct(col("close_day").as("day"), lit(-1L).as("d")))).as("x"))
        .select(col("x.day").as("day"), col("x.d").as("d"))
      // zero-delta sample point at every month's first day in the span
      val monthMarks = perOrderC
        .agg(min("start_day").as("d0"), max("close_day").as("d1"))
        .select(explode(expr(
          """sequence(date_trunc('MONTH', date_add(DATE '1970-01-01', CAST(d0 AS INT))),
            |         date_trunc('MONTH', date_add(DATE '1970-01-01', CAST(d1 AS INT))),
            |         interval 1 month)""".stripMargin)).as("mdt"))
        .select(datediff(col("mdt"), lit("1970-01-01").cast("date")).cast("long").as("day"),
          lit(0L).as("d"))
      val deltas = changes.unionAll(monthMarks)
        .groupBy("day").agg(sum("d").as("net"))
      val wCum = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deltas
        .withColumn("open_orders", sum("net").over(wCum))
        .withColumn("dt", date_add(lit("1970-01-01").cast("date"), col("day").cast("int")))
        .groupBy((year(col("dt")) * 100 + month(col("dt"))).cast("long").as("ym"))
        .agg(max("open_orders").as("peak_open"))
        .orderBy("ym")
    },

    "churn_hazard" -> { (sp, dir) =>
      val perUser = Tables.events(sp, dir)
        .groupBy("user_id")
        .agg(min(expr(s"ts_us div $DayUs")).as("first_day"),
          max(expr(s"ts_us div $DayUs")).as("last_day"))
      val maxw = perUser.agg(max("last_day").as("max_day"))
      val byLife = perUser.crossJoin(broadcast(maxw))
        .select((col("last_day") - col("first_day")).as("lifespan_days"),
          when(col("last_day") < col("max_day"), 1L).otherwise(0L).as("churn"))
        .groupBy("lifespan_days")
        .agg(count(lit(1)).as("n_users"), sum("churn").as("n_churned"))
      val wSuffix = Window.orderBy("lifespan_days")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      byLife
        .withColumn("at_risk", sum("n_users").over(wSuffix))
        .withColumn("hazard_milli", expr("n_churned * 1000 div at_risk"))
        .orderBy("lifespan_days")
    }
  )

  val oracles: Map[String, String] = Map(
    "interval_concurrency" ->
      s"""WITH per_order AS (
         |  SELECT o.o_orderkey,
         |    min(epoch_us(o.o_orderdate)) // $DayUs AS start_day,
         |    max(epoch_us(l.l_shipdate)) // $DayUs + 1 AS close_day
         |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |  GROUP BY o.o_orderkey
         |  HAVING max(epoch_us(l.l_shipdate)) // $DayUs + 1 > min(epoch_us(o.o_orderdate)) // $DayUs
         |),
         |bounds AS (
         |  SELECT min(day) AS d0, max(day) AS d1 FROM (
         |    SELECT start_day AS day FROM per_order
         |    UNION ALL SELECT close_day FROM per_order) b
         |),
         |month_marks AS (
         |  SELECT CAST(unnest(generate_series(
         |      date_trunc('month', DATE '1970-01-01' + CAST(d0 AS INTEGER)),
         |      date_trunc('month', DATE '1970-01-01' + CAST(d1 AS INTEGER)),
         |      INTERVAL 1 MONTH)) AS DATE) - DATE '1970-01-01' AS day, 0 AS d
         |  FROM bounds
         |),
         |deltas AS (
         |  SELECT day, CAST(sum(d) AS BIGINT) AS net FROM (
         |    SELECT start_day AS day, 1 AS d FROM per_order
         |    UNION ALL
         |    SELECT close_day AS day, -1 AS d FROM per_order
         |    UNION ALL
         |    SELECT day, d FROM month_marks
         |  ) u GROUP BY day
         |),
         |open_counts AS (
         |  SELECT day, CAST(sum(net) OVER (ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open_orders
         |  FROM deltas
         |)
         |SELECT CAST(year(DATE '1970-01-01' + CAST(day AS INTEGER)) * 100
         |    + month(DATE '1970-01-01' + CAST(day AS INTEGER)) AS BIGINT) AS ym,
         |  max(open_orders) AS peak_open
         |FROM open_counts GROUP BY ym ORDER BY ym""".stripMargin,

    "churn_hazard" ->
      s"""WITH per_user AS (
         |  SELECT user_id, min(epoch_us(ts) // $DayUs) AS first_day,
         |    max(epoch_us(ts) // $DayUs) AS last_day
         |  FROM events GROUP BY user_id
         |),
         |mx AS (SELECT max(last_day) AS max_day FROM per_user),
         |by_life AS (
         |  SELECT last_day - first_day AS lifespan_days,
         |    CAST(count(*) AS BIGINT) AS n_users,
         |    CAST(sum(CASE WHEN last_day < max_day THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
         |  FROM per_user, mx GROUP BY 1
         |)
         |SELECT lifespan_days, n_users, n_churned,
         |  CAST(sum(n_users) OVER (ORDER BY lifespan_days
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS at_risk,
         |  CAST(n_churned * 1000 // sum(n_users) OVER (ORDER BY lifespan_days
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS hazard_milli
         |FROM by_life ORDER BY lifespan_days""".stripMargin
  )
}
