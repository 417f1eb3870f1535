package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #5 — engagement windows and deterministic sampling:
  *
  *  - `dau_rolling`: DAU / WAU / MAU per day — the rolling-distinct-user
  *    triple every product dashboard leads with. Rolling COUNT DISTINCT
  *    does not decompose over a window, so the scalable shape is: distinct
  *    (user, day) once (the only corpus-scale shuffle), then each row
  *    fans out to the ≤30 future days it keeps a user active for, and a
  *    per-day distinct count follows — shuffle mass is 31×|user-days|,
  *    never 31×|events|.
  *  - `sample_bottomk`: the deterministic distributed "reservoir" — the k
  *    events with the smallest md5(event_id). Bottom-k by a uniform hash
  *    is a true uniform sample, is MERGEABLE (bottom-k of a union = bottom-k
  *    of per-partition bottom-ks — exactly Spark's TakeOrderedAndProject
  *    physical shape: per-partition heaps, no full sort, no full shuffle),
  *    and unlike a real reservoir is order-independent, hence oracle-exact.
  *  - `quantile_sketch`: quantile estimation from a deterministic hash
  *    sample (md5 first hex digit = '0', a fixed 1/16 rate), with the EXACT
  *    percentiles computed alongside and the signed estimation error
  *    reported per event type — the sketch ships its own certificate.
  *    Both engines draw the same sample and use the same rank arithmetic,
  *    so even the "approximate" column is hash-exact.
  */
object Queries33 extends QuerySet {
  private val DayUs = 86400000000L

  /** sample_bottomk sample size. */
  val BottomK = 200

  val defs: Map[String, Q] = Map(
    "dau_rolling" -> { (sp, dir) =>
      val ud = Tables.events(sp, dir)
        .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"))
        .distinct()
      val bounds = ud.agg(min("day").as("lo"), max("day").as("hi"))
      // each active (user, day) keeps the user in the 1-day window of
      // `day`, the 7-day windows of day..day+6, the 30-day of day..day+29
      val fanned = ud
        .select(col("user_id"), col("day"),
          explode(expr("sequence(day, day + 29)")).as("d"))
        .crossJoin(broadcast(bounds))
        .filter(col("d") <= col("hi"))
      fanned.groupBy(col("d").as("day"))
        .agg(
          countDistinct(when(col("d") === col("day"), col("user_id"))).as("dau"),
          countDistinct(when(col("d") - col("day") <= 6, col("user_id"))).as("wau"),
          countDistinct(col("user_id")).as("mau"))
        .orderBy("day")
    },

    "sample_bottomk" -> { (sp, dir) =>
      Tables.events(sp, dir)
        .select(md5(concat(lit("s"), col("event_id")).cast("binary")).as("h"),
          col("event_id"), col("user_id"), col("event_type"))
        .orderBy("h")
        .limit(BottomK)
    },

    "quantile_sketch" -> { (sp, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(sp, dir)
        .select(col("event_type"), col("event_id"),
          round(col("value") * 100).cast("bigint").as("v"),
          (substring(md5(concat(lit("q"), col("event_id")).cast("binary")), 1, 1) === "0").as("sampled"))
      val wAll = Window.partitionBy("event_type").orderBy(col("v"), col("event_id"))
      val wAllN = Window.partitionBy("event_type")
      val wS = Window.partitionBy("event_type", "sampled").orderBy(col("v"), col("event_id"))
      val ranked = ev
        .withColumn("rk", row_number().over(wAll))
        .withColumn("n", count(lit(1)).over(wAllN))
        .withColumn("srk", row_number().over(wS))
        .withColumn("sn", count(lit(1)).over(Window.partitionBy("event_type", "sampled")))
      def exact(p: Int) = max(when(col("rk") === lit(1) + expr(s"($p * (n - 1)) div 100"), col("v")))
      def est(p: Int) = max(when(col("sampled") &&
        col("srk") === lit(1) + expr(s"($p * (sn - 1)) div 100"), col("v")))
      ranked.groupBy("event_type")
        .agg(max("n").as("n"),
          sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
          exact(50).as("p50_exact"), est(50).as("p50_est"),
          exact(95).as("p95_exact"), est(95).as("p95_est"))
        .select(col("event_type"), col("n"), col("n_sampled"),
          col("p50_exact"), col("p50_est"), (col("p50_est") - col("p50_exact")).as("p50_err"),
          col("p95_exact"), col("p95_est"), (col("p95_est") - col("p95_exact")).as("p95_err"))
        .orderBy("event_type")
    }
  )

  val oracles: Map[String, String] = Map(
    "dau_rolling" ->
      s"""WITH ud AS (
         |  SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day FROM events
         |),
         |bounds AS (SELECT max(day) AS hi FROM ud),
         |fanned AS (
         |  SELECT user_id, day, day + g.i AS d
         |  FROM ud, generate_series(0, 29) AS g(i), bounds
         |  WHERE day + g.i <= bounds.hi
         |)
         |SELECT d AS day,
         |  CAST(count(DISTINCT CASE WHEN d = day THEN user_id END) AS BIGINT) AS dau,
         |  CAST(count(DISTINCT CASE WHEN d - day <= 6 THEN user_id END) AS BIGINT) AS wau,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS mau
         |FROM fanned GROUP BY d ORDER BY day""".stripMargin,

    "sample_bottomk" ->
      s"""SELECT md5(concat('s', event_id)) AS h, event_id, user_id, event_type
         |FROM events ORDER BY h LIMIT $BottomK""".stripMargin,

    "quantile_sketch" ->
      """WITH ev AS (
        |  SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS v,
        |    substring(md5(concat('q', event_id)), 1, 1) = '0' AS sampled
        |  FROM events
        |),
        |ranked AS (
        |  SELECT event_type, v, sampled,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n,
        |    row_number() OVER (PARTITION BY event_type, sampled ORDER BY v, event_id) AS srk,
        |    count(*) OVER (PARTITION BY event_type, sampled) AS sn
        |  FROM ev
        |),
        |agg AS (
        |  SELECT event_type,
        |    CAST(max(n) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |    max(CASE WHEN rk = 1 + (50 * (n - 1)) // 100 THEN v END) AS p50_exact,
        |    max(CASE WHEN sampled AND srk = 1 + (50 * (sn - 1)) // 100 THEN v END) AS p50_est,
        |    max(CASE WHEN rk = 1 + (95 * (n - 1)) // 100 THEN v END) AS p95_exact,
        |    max(CASE WHEN sampled AND srk = 1 + (95 * (sn - 1)) // 100 THEN v END) AS p95_est
        |  FROM ranked GROUP BY event_type
        |)
        |SELECT event_type, n, n_sampled,
        |  p50_exact, p50_est, p50_est - p50_exact AS p50_err,
        |  p95_exact, p95_est, p95_est - p95_exact AS p95_err
        |FROM agg ORDER BY event_type""".stripMargin
  )
}
