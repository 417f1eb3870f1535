package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-14 batch #3 — monitoring and market-structure screens:
  *
  *  - `cusum_control`: two-sided CUSUM over daily purchase revenue. The
  *    recursive S⁺/S⁻ charts are computed EXACTLY with the prefix-sum
  *    trick (S⁺_t = P_t − min(0, min_{i≤t} P_i) for P = Σ(x−k)), so no
  *    per-row recursion: two cumulative windows over the calendar-bounded
  *    day series (same single-partition-over-bounded-domain posture as
  *    theil_sen_trend). Reference k = mean daily revenue, decision h = 2k.
  *  - `share_volatility`: per-nation monthly revenue share (pm) and its
  *    exact integer variance across months — which markets are stable vs
  *    spiky. Key-shrinking rollups; months and nations are bounded.
  *  - `promo_halo`: do promo parts pull NON-promo revenue into the same
  *    basket? Orders split by contains-promo, comparing non-promo revenue
  *    per order and basket width — one lineitem scan + broadcast-joined
  *    part flags, no orders join needed.
  */
object Queries188 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "cusum_control" -> { (sp, dir) =>
      val daily = Synth.withRaw(Tables.events(sp, dir))
        .filter(col("event_type") === "purchase")
        .groupBy(expr(s"ts_us div $DayUs").as("day"))
        .agg(sum("amount_cents").as("rev_cents"))
      val ref = daily.agg(expr("sum(rev_cents) div count(1)").as("k"))
      // the window is global but the day series is calendar-bounded, so the
      // single partition holds ~tens of rows at any SF
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.crossJoin(broadcast(ref))
        .withColumn("p", sum(expr("rev_cents - k")).over(w))
        .withColumn("cusum_high", expr("p - least(min(p) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 0)"))
        .withColumn("cusum_low", expr("greatest(max(p) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 0) - p"))
        .select(col("day"), col("rev_cents"), col("cusum_high"), col("cusum_low"),
          when(col("cusum_high") > expr("2 * k"), 1L).otherwise(0L).as("breach_high"),
          when(col("cusum_low") > expr("2 * k"), 1L).otherwise(0L).as("breach_low"))
        .orderBy("day")
    },

    "share_volatility" -> { (sp, dir) =>
      val om = Tables.orders(sp, dir).select(col("o_custkey"),
        expr("CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)").as("mth"),
        round(col("o_totalprice") * 100).cast("bigint").as("cents"))
      val byNation = om
        .join(Tables.customer(sp, dir).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey", "mth").agg(sum("cents").as("nat_cents"))
      val byMonth = byNation.groupBy("mth").agg(sum("nat_cents").as("tot_cents"))
      byNation.join(broadcast(byMonth), "mth")
        .select(col("c_nationkey"), expr("nat_cents * 1000 div tot_cents").as("share_pm"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_months"), sum("share_pm").as("s"),
          sum(expr("share_pm * share_pm")).as("q"))
        .join(broadcast(Tables.nation(sp, dir).select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("n_months"),
          expr("s div n_months").as("mean_share_pm"),
          expr("(n_months * q - s * s) * 1000 div (n_months * n_months)").as("var_milli"))
        .orderBy("n_name")
    },

    "promo_halo" -> { (sp, dir) =>
      val li = Tables.lineitem(sp, dir)
        .select(col("l_orderkey"), col("l_partkey"),
          round(col("l_extendedprice") * 100).cast("bigint").as("cents"))
        .join(Tables.part(sp, dir).select(col("p_partkey"),
          when(col("p_type").like("PROMO%"), 1L).otherwise(0L).as("promo")),
          col("l_partkey") === col("p_partkey"))
      li.groupBy("l_orderkey")
        .agg(max("promo").as("has_promo"), count(lit(1)).as("width"),
          sum(expr("CASE WHEN promo = 0 THEN cents ELSE 0 END")).as("nonpromo_cents"))
        .groupBy("has_promo")
        .agg(count(lit(1)).as("n_orders"),
          expr("sum(nonpromo_cents) div count(1)").as("nonpromo_cents_per_order"),
          expr("sum(width) * 1000 div count(1)").as("avg_width_milli"))
        .orderBy("has_promo")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "cusum_control" -> Synth.withCte(
      s""", daily AS (
         |  SELECT ts_us // $DayUs AS day, CAST(sum(amount_cents) AS BIGINT) AS rev_cents
         |  FROM raw WHERE event_type = 'purchase' GROUP BY 1),
         |ref AS (SELECT CAST(sum(rev_cents) // count(*) AS BIGINT) AS k FROM daily),
         |pre AS (
         |  SELECT day, rev_cents, k,
         |    sum(rev_cents - k) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS p
         |  FROM daily CROSS JOIN ref),
         |c AS (
         |  SELECT day, rev_cents, k,
         |    p - least(min(p) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 0) AS cusum_high,
         |    greatest(max(p) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 0) - p AS cusum_low
         |  FROM pre)
         |SELECT day, rev_cents, CAST(cusum_high AS BIGINT) AS cusum_high,
         |  CAST(cusum_low AS BIGINT) AS cusum_low,
         |  CAST(CASE WHEN cusum_high > 2 * k THEN 1 ELSE 0 END AS BIGINT) AS breach_high,
         |  CAST(CASE WHEN cusum_low > 2 * k THEN 1 ELSE 0 END AS BIGINT) AS breach_low
         |FROM c ORDER BY day""".stripMargin),

    "share_volatility" ->
      s"""WITH bn AS (
         |  SELECT c_nationkey, CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS mth,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS nat_cents
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1, 2),
         |bm AS (SELECT mth, CAST(sum(nat_cents) AS BIGINT) AS tot_cents FROM bn GROUP BY 1),
         |sh AS (
         |  SELECT c_nationkey, nat_cents * 1000 // tot_cents AS share_pm
         |  FROM bn JOIN bm USING (mth)),
         |v AS (
         |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_months,
         |    CAST(sum(share_pm) AS BIGINT) AS s,
         |    CAST(sum(share_pm * share_pm) AS BIGINT) AS q
         |  FROM sh GROUP BY 1)
         |SELECT n_name, n_months,
         |  CAST(s // n_months AS BIGINT) AS mean_share_pm,
         |  CAST((n_months * q - s * s) * 1000 // (n_months * n_months) AS BIGINT) AS var_milli
         |FROM v JOIN nation ON c_nationkey = n_nationkey
         |ORDER BY n_name""".stripMargin,

    "promo_halo" ->
      s"""WITH li AS (
         |  SELECT l_orderkey,
         |    CASE WHEN p_type LIKE 'PROMO%' THEN 1 ELSE 0 END AS promo,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
         |  FROM lineitem JOIN part ON l_partkey = p_partkey),
         |per_o AS (
         |  SELECT l_orderkey, CAST(max(promo) AS BIGINT) AS has_promo,
         |    CAST(count(*) AS BIGINT) AS width,
         |    CAST(sum(CASE WHEN promo = 0 THEN cents ELSE 0 END) AS BIGINT) AS nonpromo_cents
         |  FROM li GROUP BY 1)
         |SELECT has_promo, CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(nonpromo_cents) // count(*) AS BIGINT) AS nonpromo_cents_per_order,
         |  CAST(sum(width) * 1000 // count(*) AS BIGINT) AS avg_width_milli
         |FROM per_o GROUP BY 1 ORDER BY has_promo""".stripMargin
  )
}
