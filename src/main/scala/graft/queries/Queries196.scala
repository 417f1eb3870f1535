package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-14 batch #11 — demand-shape screens:
  *
  *  - `brand_cannibalization`: within each brand, do the top-2 parts (by
  *    lifetime quantity, deterministic tiebreak) trade AGAINST each other
  *    week to week? Exact Pearson numerator sign over their joined weekly
  *    quantity series. The pair domain is bounded (one pair per brand), so
  *    the weekly join is a 25-row broadcast against the weekly rollup.
  *  - `purchase_hour_profile`: hour-of-day revenue/purchase profile with
  *    the peak hour flagged — capacity planning for the 24-row day clock.
  *  - `weekend_ship_mix`: per part type-class, weekend vs weekday shipped
  *    quantity share (cross-multiplied lift in milli) — does the fulfilment
  *    mix shift on weekends; bounded class × 2 rollup.
  */
object Queries196 extends QuerySet {
  private val DayUs = 86400000000L
  private val HourUs = 3600000000L

  val defs: Map[String, Q] = Map(
    "brand_cannibalization" -> { (sp, dir) =>
      val li = graft.util.CacheScope.track(
        Tables.lineitem(sp, dir)
          .select(col("l_partkey"), col("l_quantity").cast("bigint").as("qty"),
            expr(s"unix_micros(CAST(l_shipdate AS TIMESTAMP)) div ${7 * DayUs}").as("week"))
          .join(Tables.part(sp, dir).select("p_partkey", "p_brand"),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_brand"), col("l_partkey"), col("week"), col("qty")))
      val top2 = li.groupBy("p_brand", "l_partkey").agg(sum("qty").as("tot"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("p_brand").orderBy(col("tot").desc, col("l_partkey"))))
        .filter(col("rk") <= 2)
      val pairs = broadcast(top2.filter(col("rk") === 1)
        .select(col("p_brand"), col("l_partkey").as("pk_a"))
        .join(top2.filter(col("rk") === 2)
          .select(col("p_brand"), col("l_partkey").as("pk_b")), "p_brand"))
      val weekly = li.groupBy("l_partkey", "week").agg(sum("qty").as("wqty"))
      val joined = pairs
        .join(weekly.select(col("l_partkey").as("pk_a"), col("week"), col("wqty").as("xa")),
          Seq("pk_a"))
        .join(weekly.select(col("l_partkey").as("pk_b2"), col("week").as("week_b"),
          col("wqty").as("xb")), col("pk_b") === col("pk_b2") && col("week") === col("week_b"))
      joined.groupBy("p_brand", "pk_a", "pk_b")
        .agg(count(lit(1)).as("n_weeks"), sum("xa").as("sa"), sum("xb").as("sb"),
          sum(expr("xa * xb")).as("sab"))
        .select(col("p_brand"), col("pk_a"), col("pk_b"), col("n_weeks"),
          expr("n_weeks * sab - sa * sb").as("corr_num"),
          when(expr("n_weeks * sab - sa * sb") < 0, 1L).otherwise(0L).as("cannibal"))
        .orderBy("p_brand")
    },

    "purchase_hour_profile" -> { (sp, dir) =>
      val hourly = Synth.withRaw(Tables.events(sp, dir))
        .filter(col("event_type") === "purchase")
        .groupBy(expr(s"(ts_us div $HourUs) % 24").as("hour"))
        .agg(count(lit(1)).as("n_purchases"), sum("amount_cents").as("rev_cents"))
      val peak = hourly.agg(max("rev_cents").as("peak_rev"))
      hourly.crossJoin(broadcast(peak))
        .select(col("hour"), col("n_purchases"), col("rev_cents"),
          expr("rev_cents div n_purchases").as("cents_per_purchase"),
          when(col("rev_cents") === col("peak_rev"), 1L).otherwise(0L).as("is_peak"))
        .orderBy("hour")
    },

    "weekend_ship_mix" -> { (sp, dir) =>
      val li = Tables.lineitem(sp, dir)
        .select(col("l_partkey"), col("l_quantity").cast("bigint").as("qty"),
          expr(s"CASE WHEN (unix_micros(CAST(l_shipdate AS TIMESTAMP)) div $DayUs + 4) % 7 >= 5 THEN 1 ELSE 0 END")
            .as("weekend"))
        .join(Tables.part(sp, dir).select(col("p_partkey"),
          expr("split(p_type, ' ')[0]").as("type_class")),
          col("l_partkey") === col("p_partkey"))
      val byClass = li.groupBy("type_class")
        .agg(sum("qty").as("tot_qty"), sum(expr("weekend * qty")).as("we_qty"))
      val glob = byClass.agg(sum("tot_qty").as("g_tot"), sum("we_qty").as("g_we"))
      byClass.crossJoin(broadcast(glob))
        .select(col("type_class"), col("tot_qty"), col("we_qty"),
          expr("we_qty * 1000 div tot_qty").as("weekend_pm"),
          // lift vs the corpus weekend share, exact milli:
          // (we/tot) / (g_we/g_tot) = we*g_tot / (tot*g_we)
          expr("we_qty * g_tot * 1000 div (tot_qty * g_we)").as("lift_milli"))
        .orderBy("type_class")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "brand_cannibalization" ->
      s"""WITH li AS (
         |  SELECT p_brand, l_partkey,
         |    epoch_us(CAST(l_shipdate AS TIMESTAMP)) // ${7 * DayUs} AS week,
         |    CAST(l_quantity AS BIGINT) AS qty
         |  FROM lineitem JOIN part ON l_partkey = p_partkey),
         |top2 AS (
         |  SELECT p_brand, l_partkey, rk FROM (
         |    SELECT p_brand, l_partkey,
         |      row_number() OVER (PARTITION BY p_brand
         |        ORDER BY sum(qty) DESC, l_partkey) AS rk
         |    FROM li GROUP BY p_brand, l_partkey) t WHERE rk <= 2),
         |prs AS (
         |  SELECT a.p_brand, a.l_partkey AS pk_a, b.l_partkey AS pk_b
         |  FROM top2 a JOIN top2 b ON a.p_brand = b.p_brand AND a.rk = 1 AND b.rk = 2),
         |weekly AS (
         |  SELECT l_partkey, week, CAST(sum(qty) AS BIGINT) AS wqty
         |  FROM li GROUP BY 1, 2),
         |j AS (
         |  SELECT p.p_brand, p.pk_a, p.pk_b, wa.wqty AS xa, wb.wqty AS xb
         |  FROM prs p
         |  JOIN weekly wa ON wa.l_partkey = p.pk_a
         |  JOIN weekly wb ON wb.l_partkey = p.pk_b AND wb.week = wa.week)
         |SELECT p_brand, pk_a, pk_b, CAST(count(*) AS BIGINT) AS n_weeks,
         |  CAST(count(*) * sum(xa * xb) - sum(xa) * sum(xb) AS BIGINT) AS corr_num,
         |  CAST(CASE WHEN count(*) * sum(xa * xb) - sum(xa) * sum(xb) < 0
         |       THEN 1 ELSE 0 END AS BIGINT) AS cannibal
         |FROM j GROUP BY 1, 2, 3 ORDER BY p_brand""".stripMargin,

    "purchase_hour_profile" -> Synth.withCte(
      s""", hourly AS (
         |  SELECT (ts_us // $HourUs) % 24 AS hour,
         |    CAST(count(*) AS BIGINT) AS n_purchases,
         |    CAST(sum(amount_cents) AS BIGINT) AS rev_cents
         |  FROM raw WHERE event_type = 'purchase' GROUP BY 1),
         |pk AS (SELECT max(rev_cents) AS peak_rev FROM hourly)
         |SELECT hour, n_purchases, rev_cents,
         |  CAST(rev_cents // n_purchases AS BIGINT) AS cents_per_purchase,
         |  CAST(CASE WHEN rev_cents = peak_rev THEN 1 ELSE 0 END AS BIGINT) AS is_peak
         |FROM hourly CROSS JOIN pk ORDER BY hour""".stripMargin),

    "weekend_ship_mix" ->
      s"""WITH li AS (
         |  SELECT string_split(p_type, ' ')[1] AS type_class,
         |    CAST(l_quantity AS BIGINT) AS qty,
         |    CASE WHEN (epoch_us(CAST(l_shipdate AS TIMESTAMP)) // $DayUs + 4) % 7 >= 5
         |         THEN 1 ELSE 0 END AS weekend
         |  FROM lineitem JOIN part ON l_partkey = p_partkey),
         |bc AS (
         |  SELECT type_class, CAST(sum(qty) AS BIGINT) AS tot_qty,
         |    CAST(sum(weekend * qty) AS BIGINT) AS we_qty
         |  FROM li GROUP BY 1),
         |g AS (SELECT CAST(sum(tot_qty) AS BIGINT) AS g_tot,
         |  CAST(sum(we_qty) AS BIGINT) AS g_we FROM bc)
         |SELECT type_class, tot_qty, we_qty,
         |  CAST(we_qty * 1000 // tot_qty AS BIGINT) AS weekend_pm,
         |  CAST(we_qty * g_tot * 1000 // (tot_qty * g_we) AS BIGINT) AS lift_milli
         |FROM bc CROSS JOIN g ORDER BY type_class""".stripMargin
  )
}
