package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.IntIdioms.nearestRank

/** Round-9 batch #68 — experiment sizing + robust monitoring bands:
  *
  *  - `ab_power_planner`: the sample-size table every experiment review
  *    starts with — users per arm needed to detect an absolute
  *    conversion lift of δ ∈ {10, 20, 50, 100}‰ at α = 0.05 two-sided
  *    with 80% power, n = 2(z_{α/2}+z_β)²·p(1−p)/δ², seeded with the
  *    OBSERVED final-day purchaser rate (lifetime conversion saturates
  *    at 1000‰ on this corpus, where p(1−p) = 0 tells you nothing). (z₀.₀₂₅+z₀.₈)² = 2.8² is the
  *    fixed constant 7.84, so n = (15680·p‰·(1000−p‰)) div (δ‰²·1000) —
  *    all integer. Feasibility rides along: how many multiples of the
  *    current user count each δ needs.
  *  - `dow_percentile_bands`: robust anomaly envelopes — exact
  *    p10/p50/p90 of daily revenue PER day-of-week (the seasonal
  *    profile `seasonal_baseline`'s mean hides tails of), plus each
  *    band's last-day breach flag. Rank windows over the bounded
  *    ~2.4k-day table, partitioned by dow. */
object Queries148 extends QuerySet {
  private val DayUs = 86400000000L
  private val Deltas = Seq(10L, 20L, 50L, 100L)

  val defs: Map[String, Q] = Map(
    "ab_power_planner" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
      val mx = ev.agg(max("ts_us").as("m"))
      // baseline metric: purchased within the corpus's FINAL DAY — the
      // daily-purchaser rate sits mid-range where p(1-p) is informative
      // (lifetime "ever purchased" saturates at 1000 permille here)
      val base = ev.crossJoin(broadcast(mx))
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase"
          && col("ts_us") >= col("m") - lit(86400000000L), 1L).otherwise(0L)).as("conv"))
        .agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
        .withColumn("p_milli", expr("n_conv * 1000 div n_users"))
      val rows = Deltas.map { d =>
        base.select(lit(d).as("delta_milli"), col("n_users"), col("p_milli"),
          expr(s"(15680 * p_milli * (1000 - p_milli)) div ($d * $d * 1000)")
            .as("n_per_arm"),
          expr(s"((15680 * p_milli * (1000 - p_milli)) div ($d * $d * 1000)) * 2 * 1000 div n_users")
            .as("users_needed_milli"))
      }
      rows.reduce(_ unionAll _).orderBy("delta_milli")
    },

    "dow_percentile_bands" -> { (sp, dir) =>
      val daily = Tables.orders(sp, dir)
        .select(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"))
        .groupBy("day").agg(sum("cents").as("rev"))
        .withColumn("dow", expr("day % 7"))
      val w = Window.partitionBy("dow").orderBy(col("rev"), col("day"))
      val dailyC = graft.util.CacheScope.track(daily)
      val bands = dailyC
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("dow")))
        .groupBy("dow")
        .agg(max("n").as("n_days"), nearestRank(10, col("rev")).as("p10_cents"),
          nearestRank(50, col("rev")).as("p50_cents"), nearestRank(90, col("rev")).as("p90_cents"))
      val last = dailyC
        .withColumn("mx", max("day").over(Window.partitionBy("dow")))
        .filter(col("day") === col("mx"))
        .select(col("dow"), col("rev").as("last_rev_cents"))
      bands.join(last, Seq("dow"))
        .select(col("dow"), col("n_days"), col("p10_cents"), col("p50_cents"),
          col("p90_cents"), col("last_rev_cents"),
          when(col("last_rev_cents") < col("p10_cents")
            || col("last_rev_cents") > col("p90_cents"), 1L).otherwise(0L)
            .as("last_breach"))
        .orderBy("dow")
    }
  )

  val oracles: Map[String, String] = {
    val planner = Deltas.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS delta_milli, n_users, p_milli,
         |  CAST((15680 * p_milli * (1000 - p_milli)) // ($d * $d * 1000) AS BIGINT)
         |    AS n_per_arm,
         |  CAST(((15680 * p_milli * (1000 - p_milli)) // ($d * $d * 1000)) * 2 * 1000
         |    // n_users AS BIGINT) AS users_needed_milli
         |FROM base""".stripMargin
    }
    Map(
      "ab_power_planner" ->
        s"""WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
           |per AS (
           |  SELECT user_id,
           |    max(CASE WHEN event_type = 'purchase'
           |        AND epoch_us(ts) >= mx.m - 86400000000 THEN 1 ELSE 0 END) AS conv
           |  FROM events, mx GROUP BY user_id
           |),
           |base AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_users,
           |    CAST(sum(conv) * 1000 // count(*) AS BIGINT) AS p_milli
           |  FROM per
           |)
           |${planner.mkString("\nUNION ALL\n")}
           |ORDER BY delta_milli""".stripMargin,

      "dow_percentile_bands" ->
        s"""WITH daily AS (
           |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS day,
           |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
           |  FROM orders GROUP BY 1
           |),
           |ranked AS (
           |  SELECT day, day % 7 AS dow, rev,
           |    row_number() OVER (PARTITION BY day % 7 ORDER BY rev, day) AS rk,
           |    count(*) OVER (PARTITION BY day % 7) AS n
           |  FROM daily
           |),
           |bands AS (
           |  SELECT dow, CAST(max(n) AS BIGINT) AS n_days,
           |    max(CASE WHEN rk = 1 + (10 * (n - 1)) // 100 THEN rev END) AS p10_cents,
           |    max(CASE WHEN rk = 1 + (50 * (n - 1)) // 100 THEN rev END) AS p50_cents,
           |    max(CASE WHEN rk = 1 + (90 * (n - 1)) // 100 THEN rev END) AS p90_cents
           |  FROM ranked GROUP BY dow
           |),
           |last AS (
           |  SELECT dow, rev AS last_rev_cents FROM (
           |    SELECT dow, rev, row_number() OVER (PARTITION BY dow ORDER BY day DESC) AS r
           |    FROM ranked) t WHERE r = 1
           |)
           |SELECT b.dow, b.n_days, b.p10_cents, b.p50_cents, b.p90_cents,
           |  l.last_rev_cents,
           |  CAST(CASE WHEN l.last_rev_cents < b.p10_cents
           |         OR l.last_rev_cents > b.p90_cents THEN 1 ELSE 0 END AS BIGINT)
           |    AS last_breach
           |FROM bands b JOIN last l ON l.dow = b.dow
           |ORDER BY b.dow""".stripMargin
    )
  }
}
