package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #49 — lifecycle snapshot and returns trend:
  *
  *  - `user_recency_profile`: the raw recency curve CRM lifecycle staging
  *    is built FROM — per exact days-since-last-activity at the corpus
  *    watermark: users, their event mass, and purchase revenue. No
  *    arbitrary stage thresholds (this corpus's users all sit within 2
  *    days of the watermark, so any fixed new/active/churned bucketing
  *    would put every user in one bucket and prove nothing); a lifecycle
  *    policy is a post-pass over these rows. One (user) aggregation,
  *    output bounded by the calendar span.
  *  - `returns_trend`: monthly returned-revenue share over the TPC-H
  *    history (l_returnflag = 'R' mass over all lineitem revenue, exact
  *    milli per ship month) — the quality-of-revenue trend line behind
  *    `q10_returned`'s per-customer ranking; one (month, flag) rollup.
  */
object Queries77 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "user_recency_profile" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
      val perUser = ev.groupBy("user_id")
        .agg(max(expr(s"ts_us div $DayUs")).as("last_day"),
          count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase",
            round(col("value") * 100).cast("bigint")).otherwise(0L)).as("rev_cents"))
      val wm = perUser.agg(max("last_day").as("wm_day"))
      perUser.crossJoin(broadcast(wm))
        .groupBy((col("wm_day") - col("last_day")).as("recency_days"))
        .agg(count(lit(1)).as("n_users"), sum("n_events").as("n_events"),
          sum("rev_cents").as("revenue_cents"))
        .orderBy("recency_days")
    },

    "returns_trend" -> { (sp, dir) =>
      Tables.lineitem(sp, dir)
        .select(
          (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("long").as("ym"),
          round(col("l_extendedprice") * 100).cast("bigint").as("cents"),
          (col("l_returnflag") === "R").as("ret"))
        .groupBy("ym")
        .agg(count(lit(1)).as("n_lines"),
          sum("cents").as("revenue_cents"),
          sum(when(col("ret"), col("cents")).otherwise(0L)).as("returned_cents"))
        .withColumn("returned_milli", expr("returned_cents * 1000 div revenue_cents"))
        .orderBy("ym")
    }
  )

  val oracles: Map[String, String] = Map(
    "user_recency_profile" ->
      s"""WITH per_user AS (
         |  SELECT user_id, max(epoch_us(ts) // $DayUs) AS last_day,
         |    CAST(count(*) AS BIGINT) AS n_events,
         |    CAST(sum(CASE WHEN event_type = 'purchase'
         |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
         |      AS rev_cents
         |  FROM events GROUP BY user_id
         |),
         |wm AS (SELECT max(last_day) AS wm_day FROM per_user)
         |SELECT w.wm_day - p.last_day AS recency_days,
         |  CAST(count(*) AS BIGINT) AS n_users,
         |  CAST(sum(n_events) AS BIGINT) AS n_events,
         |  CAST(sum(rev_cents) AS BIGINT) AS revenue_cents
         |FROM per_user p, wm w
         |GROUP BY 1 ORDER BY recency_days""".stripMargin,

    "returns_trend" ->
      s"""SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ym,
         |  CAST(count(*) AS BIGINT) AS n_lines,
         |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         |    AS revenue_cents,
         |  CAST(sum(CASE WHEN l_returnflag = 'R'
         |      THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
         |    AS returned_cents,
         |  CAST(sum(CASE WHEN l_returnflag = 'R'
         |      THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) * 1000
         |    // sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         |    AS returned_milli
         |FROM lineitem GROUP BY ym ORDER BY ym""".stripMargin
  )
}
