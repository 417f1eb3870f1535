package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.IntIdioms.nearestRankCum

/** Round-8 continuation #31 — inter-event timing and term dispersion:
  *
  *  - `repeat_purchase_intervals`: the distribution of gaps between a
  *    user's consecutive purchases (the repeat-purchase cadence behind
  *    replenishment and churn models). Gaps come from one lag window on
  *    the (user)-keyed purchase stream; the global percentiles then run
  *    over the VALUE HISTOGRAM of integer gap-days (the
  *    `perplexity_bucket` pattern — gap-days have a calendar-bounded
  *    domain, so no single-task window ever sees the gap table itself).
  *    Rank arithmetic mirrors `percentiles_exact`: value at sorted index
  *    1 + (p·(n−1)) div 100, found as the smallest histogram value whose
  *    cumulative count covers that index.
  *  - `term_burstiness`: Church–Gale burstiness for the top-32 corpus
  *    terms — collection frequency over document frequency (exact milli):
  *    function words sit near their df (spread thin), topical words
  *    clump. Layered directly on `vocab_count`'s oracle-checked relation
  *    on BOTH engines, so the counts cannot drift from the vocabulary
  *    job that produced them.
  */
object Queries59 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "repeat_purchase_intervals" -> { (sp, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us")
      val gaps = Tables.events(sp, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"))
        .withColumn("prev_us", lag("ts_us", 1).over(w))
        .filter(col("prev_us").isNotNull)
        .select(expr(s"(ts_us - prev_us) div $DayUs").as("gap_days"))
      val hist = gaps.groupBy("gap_days").agg(count(lit(1)).as("cnt"))
      val wCum = Window.orderBy("gap_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum("cnt").over(wCum))
        .crossJoin(broadcast(gaps.agg(count(lit(1)).as("n"),
          sum("gap_days").as("tot"))))
      cum.groupBy("n", "tot")
        .agg(nearestRankCum(50, col("gap_days")).as("p50_days"),
          nearestRankCum(90, col("gap_days")).as("p90_days"),
          max("gap_days").as("max_days"))
        .select(col("n").as("n_gaps"), col("p50_days"), col("p90_days"),
          col("max_days"), expr("tot * 1000 div n").as("mean_gap_milli_days"))
    },

    "term_burstiness" -> { (sp, dir) =>
      Queries14.defs("vocab_count")(sp, dir)
        .select(col("rank"), col("word"), col("cnt").as("cf"), col("df"),
          expr("cnt * 1000 div df").as("burstiness_milli"))
        .orderBy("rank")
    }
  )

  val oracles: Map[String, String] = Map(
    "repeat_purchase_intervals" ->
      s"""WITH purchases AS (
         |  SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase'
         |),
         |gaps AS (
         |  SELECT (us - lag(us) OVER (PARTITION BY user_id ORDER BY us)) // $DayUs
         |    AS gap_days
         |  FROM purchases
         |  QUALIFY lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NOT NULL
         |),
         |hist AS (
         |  SELECT gap_days, CAST(count(*) AS BIGINT) AS cnt FROM gaps GROUP BY 1
         |),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(gap_days) AS BIGINT) AS tot
         |  FROM gaps
         |),
         |cum AS (
         |  SELECT gap_days,
         |    sum(cnt) OVER (ORDER BY gap_days
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM hist
         |)
         |SELECT t.n AS n_gaps,
         |  min(CASE WHEN c.cum >= 1 + (50 * (t.n - 1)) // 100 THEN c.gap_days END)
         |    AS p50_days,
         |  min(CASE WHEN c.cum >= 1 + (90 * (t.n - 1)) // 100 THEN c.gap_days END)
         |    AS p90_days,
         |  max(c.gap_days) AS max_days,
         |  CAST(t.tot * 1000 // t.n AS BIGINT) AS mean_gap_milli_days
         |FROM cum c, tot t GROUP BY t.n, t.tot""".stripMargin,

    "term_burstiness" ->
      s"""SELECT rank, word, cnt AS cf, df, cnt * 1000 // df AS burstiness_milli
         |FROM (
         |${Queries14.oracles("vocab_count")}
         |) v ORDER BY rank""".stripMargin
  )
}
