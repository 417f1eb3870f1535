package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.IntIdioms.nearestRankCum

/** Round-8 continuation #40 — privacy ops and watermark sizing:
  *
  *  - `erasure_impact`: the right-to-be-forgotten impact assessment — for
  *    a deletion cohort (user_id ≡ 0 mod 37, the deterministic stand-in
  *    for an erasure request list), how many rows each derived table
  *    loses: raw events, purchases + revenue, sessions, SCD2 intervals.
  *    Counts come from the PRODUCTION relations (`sessionize`,
  *    `scd2_dim`) filtered by the cohort — the report a privacy team
  *    files before executing deletion, and it cannot disagree with the
  *    tables it predicts because it runs them.
  *  - `watermark_planner`: the out-of-orderness profile that sizes a
  *    streaming watermark — per event, how far behind the running max
  *    event-time it ARRIVED; percentiles + the share beyond 1 h, and p99
  *    as the suggested delay. The corpus carries no arrival timestamps
  *    and event_id order IS event-time order (zero lateness — a
  *    degenerate report), so the arrival sequence is SYNTHESIZED as the
  *    md5(event_id) order: a collector interleaving many shards, the
  *    worst realistic reordering. The running prefix max uses the
  *    SCALABLE two-phase shape (per-chunk windows + a tiny chunk-prefix
  *    table broadcast back — `shard_export`'s pattern with MAX), never a
  *    single-task global window; the ORACLE is exactly that naive global
  *    window. Percentiles run over the bounded value histogram of
  *    lateness minutes.
  */
object Queries68 extends QuerySet {
  private val ErasureMod = 37
  private val ChunkSz = 1000L
  private val MinUs = 60000000L

  val defs: Map[String, Q] = Map(
    "erasure_impact" -> { (sp, dir) =>
      val inCohort = (c: org.apache.spark.sql.Column) => c % ErasureMod === 0
      val ev = Tables.events(sp, dir)
      val evAgg = ev.agg(
        countDistinct(when(inCohort(col("user_id")), col("user_id"))).as("n_users"),
        sum(when(inCohort(col("user_id")), 1L).otherwise(0L)).as("n_events"),
        sum(when(inCohort(col("user_id")) && col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("n_purchases"),
        sum(when(inCohort(col("user_id")) && col("event_type") === "purchase",
          round(col("value") * 100).cast("bigint")).otherwise(0L)).as("revenue_cents"))
      val sess = AnalyticsQueries.defs("sessionize")(sp, dir)
        .filter(inCohort(col("user_id")))
        .agg(count(lit(1)).as("n_sessions"))
      val dim = Queries29.defs("scd2_dim")(sp, dir)
        .filter(inCohort(col("user_id")))
        .agg(count(lit(1)).as("n_scd2_intervals"))
      evAgg.crossJoin(broadcast(sess)).crossJoin(broadcast(dim))
    },

    "watermark_planner" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir).select(col("event_id"), col("ts_us"))
        .withColumn("h", md5(concat(lit("arr"), col("event_id")).cast("binary")))
        .withColumn("chunk", conv(substring(col("h"), 1, 2), 16, 10).cast("long"))
      val wIn = Window.partitionBy("chunk").orderBy("h", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val chunkMax = ev.groupBy("chunk").agg(max("ts_us").as("cmax"))
      val wPrev = Window.orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val prevMax = chunkMax
        .withColumn("prev_max", max("cmax").over(wPrev))
        .select(col("chunk"), col("prev_max"))
      val late = ev
        .withColumn("in_max", max("ts_us").over(wIn))
        .join(broadcast(prevMax), Seq("chunk"))
        .withColumn("prefix",
          greatest(coalesce(col("in_max"), lit(-1L)), coalesce(col("prev_max"), lit(-1L))))
        .filter(col("prefix") >= 0)
        .select(greatest(lit(0L), expr(s"(prefix - ts_us) div $MinUs")).as("late_min"))
      val hist = late.groupBy("late_min").agg(count(lit(1)).as("cnt"))
      val wCum = Window.orderBy("late_min")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum("cnt").over(wCum))
        .crossJoin(broadcast(late.agg(count(lit(1)).as("n"),
          sum(when(col("late_min") >= 60, 1L).otherwise(0L)).as("n_over_1h"))))
      cum.groupBy("n", "n_over_1h")
        .agg(nearestRankCum(50, col("late_min")).as("p50_min"),
          nearestRankCum(95, col("late_min")).as("p95_min"),
          nearestRankCum(99, col("late_min")).as("p99_min"),
          max("late_min").as("max_min"))
        .select(col("n").as("n_events"), col("p50_min"), col("p95_min"),
          col("p99_min"), col("max_min"),
          expr("n_over_1h * 1000 div n").as("over_1h_milli"),
          col("p99_min").as("suggested_watermark_min"))
    }
  )

  val oracles: Map[String, String] = Map(
    "erasure_impact" ->
      s"""WITH sess AS (
         |${AnalyticsQueries.oracles("sessionize")}
         |),
         |dim AS (
         |${Queries29.oracles("scd2_dim")}
         |),
         |e AS (
         |  SELECT CAST(count(DISTINCT CASE WHEN user_id % $ErasureMod = 0
         |      THEN user_id END) AS BIGINT) AS n_users,
         |    CAST(sum(CASE WHEN user_id % $ErasureMod = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_events,
         |    CAST(sum(CASE WHEN user_id % $ErasureMod = 0 AND event_type = 'purchase'
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
         |    CAST(sum(CASE WHEN user_id % $ErasureMod = 0 AND event_type = 'purchase'
         |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
         |      AS revenue_cents
         |  FROM events
         |)
         |SELECT e.n_users, e.n_events, e.n_purchases, e.revenue_cents,
         |  (SELECT CAST(count(*) AS BIGINT) FROM sess
         |   WHERE user_id % $ErasureMod = 0) AS n_sessions,
         |  (SELECT CAST(count(*) AS BIGINT) FROM dim
         |   WHERE user_id % $ErasureMod = 0) AS n_scd2_intervals
         |FROM e""".stripMargin,

    "watermark_planner" ->
      s"""WITH late AS (
         |  SELECT greatest(0, (prefix - ts_us) // $MinUs) AS late_min FROM (
         |    SELECT epoch_us(ts) AS ts_us,
         |      max(epoch_us(ts)) OVER (
         |        ORDER BY md5(concat('arr', CAST(event_id AS VARCHAR))), event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prefix
         |    FROM events) t
         |  WHERE prefix IS NOT NULL
         |),
         |hist AS (
         |  SELECT late_min, CAST(count(*) AS BIGINT) AS cnt FROM late GROUP BY 1
         |),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN late_min >= 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_1h
         |  FROM late
         |),
         |cum AS (
         |  SELECT late_min, sum(cnt) OVER (ORDER BY late_min
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM hist
         |)
         |SELECT t.n AS n_events,
         |  min(CASE WHEN c.cum >= 1 + (50 * (t.n - 1)) // 100 THEN c.late_min END) AS p50_min,
         |  min(CASE WHEN c.cum >= 1 + (95 * (t.n - 1)) // 100 THEN c.late_min END) AS p95_min,
         |  min(CASE WHEN c.cum >= 1 + (99 * (t.n - 1)) // 100 THEN c.late_min END) AS p99_min,
         |  max(c.late_min) AS max_min,
         |  CAST(t.n_over_1h * 1000 // t.n AS BIGINT) AS over_1h_milli,
         |  min(CASE WHEN c.cum >= 1 + (99 * (t.n - 1)) // 100 THEN c.late_min END)
         |    AS suggested_watermark_min
         |FROM cum c, tot t GROUP BY t.n, t.n_over_1h""".stripMargin
  )
}
