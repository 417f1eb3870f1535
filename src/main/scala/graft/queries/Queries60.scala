package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.IntIdioms.nearestRank

/** Round-8 continuation #32 — the nearest-neighbor temporal join and
  * funnel step timing:
  *
  *  - `asof_nearest`: each purchase matched to the user's NEAREST click
  *    within ±1 hour — the bidirectional completion of the as-of family
  *    (weather_asof = backward only): sensor alignment, click attribution
  *    with post-purchase confirmation clicks, log stitching. Same
  *    union-tag-window shape as the as-of operators — ONE (user) shuffle;
  *    the backward candidate comes from a preceding-frame max over the
  *    tagged stream, the forward one from a following-frame min, the
  *    winner by strict |Δt| with the EARLIER (backward) side on ties.
  *    Rows at identical (ts, id) order deterministically by event_id, so
  *    both engines agree down to the tie.
  *  - `funnel_step_latency`: per-step timing for `ordered_funnel`'s
  *    chain (first view → first subsequent click → first subsequent
  *    purchase): per converted user the two step latencies in whole
  *    minutes, then exact rank-arithmetic percentiles PER STEP over the
  *    per-user rows (one row per converting user — the
  *    `conversion_latency` scale shape, two steps wide).
  */
object Queries60 extends QuerySet {
  private val HourUs = 3600000000L
  private val MinUs = 60000000L

  val defs: Map[String, Q] = Map(
    "asof_nearest" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          (col("event_type") === "click").as("is_click"))
      val ord = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val back = max(when(col("is_click"), col("ts_us")))
        .over(ord.rowsBetween(Window.unboundedPreceding, -1))
      val fwd = min(when(col("is_click"), col("ts_us")))
        .over(ord.rowsBetween(1, Window.unboundedFollowing))
      ev
        .withColumn("back_us", back)
        .withColumn("fwd_us", fwd)
        .filter(!col("is_click"))
        .withColumn("back_d", col("ts_us") - col("back_us"))
        .withColumn("fwd_d", col("fwd_us") - col("ts_us"))
        .withColumn("pick_back",
          col("back_d").isNotNull && col("back_d") <= HourUs &&
            (col("fwd_d").isNull || col("fwd_d") > HourUs || col("back_d") <= col("fwd_d")))
        .withColumn("pick_fwd",
          !col("pick_back") && col("fwd_d").isNotNull && col("fwd_d") <= HourUs)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          when(col("pick_back"), col("back_us"))
            .when(col("pick_fwd"), col("fwd_us")).as("click_us"),
          when(col("pick_back"), -col("back_d"))
            .when(col("pick_fwd"), col("fwd_d")).as("delta_us"),
          when(col("pick_back"), lit("back"))
            .when(col("pick_fwd"), lit("fwd")).as("direction"))
        .orderBy("event_id")
    },

    "funnel_step_latency" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
      val perUser = ev.groupBy("user_id")
        .agg(min(when(col("event_type") === "view", col("ts_us"))).as("t_view"))
        .join(ev, Seq("user_id"))
        .groupBy("user_id", "t_view")
        .agg(min(when(col("event_type") === "click" && col("ts_us") > col("t_view"),
          col("ts_us"))).as("t_click"))
        .join(ev, Seq("user_id"))
        .groupBy("user_id", "t_view", "t_click")
        .agg(min(when(col("event_type") === "purchase" && col("ts_us") > col("t_click"),
          col("ts_us"))).as("t_buy"))
        .filter(col("t_view").isNotNull && col("t_click").isNotNull &&
          col("t_buy").isNotNull)
      val steps = perUser
        .select(lit("1_view_to_click").as("step"),
          expr(s"(t_click - t_view) div $MinUs").as("lat_min"), col("user_id"))
        .unionAll(perUser.select(lit("2_click_to_purchase").as("step"),
          expr(s"(t_buy - t_click) div $MinUs").as("lat_min"), col("user_id")))
      val w = Window.partitionBy("step").orderBy("lat_min", "user_id")
      val ranked = steps
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("step")))
      ranked.groupBy("step")
        .agg(max("n").as("n_users"), nearestRank(50, col("lat_min")).as("p50_min"),
          nearestRank(90, col("lat_min")).as("p90_min"),
          max("lat_min").as("max_min"))
        .orderBy("step")
    }
  )

  val oracles: Map[String, String] = Map(
    "asof_nearest" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         |    event_type = 'click' AS is_click
         |  FROM events WHERE event_type IN ('purchase', 'click')
         |),
         |tagged AS (
         |  SELECT *,
         |    max(CASE WHEN is_click THEN ts_us END) OVER (
         |      PARTITION BY user_id ORDER BY ts_us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS back_us,
         |    min(CASE WHEN is_click THEN ts_us END) OVER (
         |      PARTITION BY user_id ORDER BY ts_us, event_id
         |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fwd_us
         |  FROM ev
         |),
         |purch AS (
         |  SELECT *, ts_us - back_us AS back_d, fwd_us - ts_us AS fwd_d,
         |    back_us IS NOT NULL AND ts_us - back_us <= $HourUs
         |      AND (fwd_us IS NULL OR fwd_us - ts_us > $HourUs
         |           OR ts_us - back_us <= fwd_us - ts_us) AS pick_back
         |  FROM tagged WHERE NOT is_click
         |)
         |SELECT event_id, user_id, ts_us,
         |  CASE WHEN pick_back THEN back_us
         |       WHEN fwd_d IS NOT NULL AND fwd_d <= $HourUs THEN fwd_us END AS click_us,
         |  CASE WHEN pick_back THEN -back_d
         |       WHEN fwd_d IS NOT NULL AND fwd_d <= $HourUs THEN fwd_d END AS delta_us,
         |  CASE WHEN pick_back THEN 'back'
         |       WHEN fwd_d IS NOT NULL AND fwd_d <= $HourUs THEN 'fwd' END AS direction
         |FROM purch ORDER BY event_id""".stripMargin,

    "funnel_step_latency" ->
      s"""WITH v AS (
         |  SELECT user_id, min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
         |    AS t_view
         |  FROM events GROUP BY user_id
         |),
         |c AS (
         |  SELECT e.user_id, v.t_view,
         |    min(CASE WHEN e.event_type = 'click' AND epoch_us(e.ts) > v.t_view
         |        THEN epoch_us(e.ts) END) AS t_click
         |  FROM events e JOIN v ON e.user_id = v.user_id
         |  GROUP BY e.user_id, v.t_view
         |),
         |p AS (
         |  SELECT e.user_id, c.t_view, c.t_click,
         |    min(CASE WHEN e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_click
         |        THEN epoch_us(e.ts) END) AS t_buy
         |  FROM events e JOIN c ON e.user_id = c.user_id
         |  GROUP BY e.user_id, c.t_view, c.t_click
         |),
         |conv AS (
         |  SELECT * FROM p
         |  WHERE t_view IS NOT NULL AND t_click IS NOT NULL AND t_buy IS NOT NULL
         |),
         |steps AS (
         |  SELECT '1_view_to_click' AS step, (t_click - t_view) // $MinUs AS lat_min,
         |    user_id
         |  FROM conv
         |  UNION ALL
         |  SELECT '2_click_to_purchase', (t_buy - t_click) // $MinUs, user_id FROM conv
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY step ORDER BY lat_min, user_id) AS rk,
         |    count(*) OVER (PARTITION BY step) AS n
         |  FROM steps
         |)
         |SELECT step, CAST(max(n) AS BIGINT) AS n_users,
         |  max(CASE WHEN rk = 1 + (50 * (n - 1)) // 100 THEN lat_min END) AS p50_min,
         |  max(CASE WHEN rk = 1 + (90 * (n - 1)) // 100 THEN lat_min END) AS p90_min,
         |  max(lat_min) AS max_min
         |FROM ranked GROUP BY step ORDER BY step""".stripMargin
  )
}
