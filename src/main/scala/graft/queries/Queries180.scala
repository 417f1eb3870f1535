package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-13 batch #3 — pricing, demand, and audit statistics:
  *
  *  - `brand_vwap`: volume-weighted average unit price per brand in exact
  *    milli-cents (Σ qty·price / Σ qty) — the price-realization read; one
  *    broadcast part join + one rollup.
  *  - `demand_peaking`: per-brand peak-to-mean daily demand ratio (milli)
  *    with the peak day — the straggler/stockout signal; windows run over
  *    the |brand × day| rollup, never lines.
  *  - `mood_median_test`: Mood's median test, returned (R) vs kept lines —
  *    pooled median from the distinct-cents histogram (value-domain
  *    cumulative, the adjudicated ks_two_sample class), then a 2×2 χ² via
  *    the chi_square_independence expected-count machinery; exact milli.
  *  - `return_by_price_band`: return share per $1000 price band — returns
  *    as a function of ticket size; one scan, bounded bands.
  *  - `benford_second_digit`: second-significant-digit distribution of
  *    price cents vs the Benford expectation — the fraud-audit companion
  *    of benford_audit (first digit); expected ppm are plan-time constants
  *    generated from the SAME Scala value on both engines.
  *  - `quantity_discount_curve`: mean discount (milli-percent) as a
  *    function of order-line quantity — does bulk actually get a better
  *    rate; one scan, ≤ 50 groups.
  *  - `cadence_drift`: per customer with ≥ 3 inter-order gaps, compare
  *    the first half of gaps to the last half (equal counts, exact sums):
  *    is the base speeding up or slowing down; one hash-partitioned
  *    window by customer + one co-partitioned count join.
  */
object Queries180 extends QuerySet {
  private val DayUs = 86400000000L

  /** Benford second-digit expectation in ppm: p(d) = Σ_{k=1..9}
    * log10(1 + 1/(10k + d)), rounded once here and embedded as the same
    * literal on both engines. */
  private[queries] val Benford2Ppm: Seq[(Int, Long)] = (0 to 9).map { d =>
    val p = (1 to 9).map(k => math.log10(1.0 + 1.0 / (10 * k + d))).sum
    d -> math.round(p * 1000000)
  }

  val defs: Map[String, Q] = Map(
    "brand_vwap" -> { (sp, dir) =>
      Tables.lineitem(sp, dir)
        .join(broadcast(Tables.part(sp, dir).select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          round(col("l_quantity")).cast("bigint").as("qty"),
          round(col("l_extendedprice") * 100).cast("bigint").as("cents"))
        .groupBy("brand")
        .agg(count(lit(1)).as("n_lines"), sum("qty").as("units"),
          sum(expr("qty * cents")).as("qty_cents"))
        .withColumn("vwap_milli", expr("qty_cents * 1000 div units"))
        .select("brand", "n_lines", "units", "vwap_milli")
        .orderBy("brand")
    },

    "demand_peaking" -> { (sp, dir) =>
      val perDay = Tables.lineitem(sp, dir)
        .join(broadcast(Tables.part(sp, dir).select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
          expr(s"unix_micros(CAST(l_shipdate AS TIMESTAMP)) div $DayUs").as("day"))
        .agg(sum(round(col("l_quantity")).cast("bigint")).as("qty"))
      perDay
        .withColumn("rk", row_number().over(
          Window.partitionBy("brand").orderBy(col("qty").desc, col("day"))))
        .groupBy("brand")
        .agg(count(lit(1)).as("n_days"), sum("qty").as("total_qty"),
          max("qty").as("peak_qty"),
          max(when(col("rk") === 1, col("day"))).as("peak_day"))
        .withColumn("peak_mean_milli", expr("peak_qty * n_days * 1000 div total_qty"))
        .orderBy("brand")
    },

    "mood_median_test" -> { (sp, dir) =>
      val vals = graft.util.CacheScope.track(
        Tables.lineitem(sp, dir)
          .select(round(col("l_extendedprice") * 100).cast("bigint").as("cents"),
            when(col("l_returnflag") === "R", lit("ret")).otherwise(lit("kept")).as("grp")))
      val hist = vals.groupBy("cents").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(Window.orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum("cnt").over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      val med = hist
        .filter(expr("cum - cnt < 1 + (n - 1) * 50 div 100 AND 1 + (n - 1) * 50 div 100 <= cum"))
        .select(col("cents").as("med_cents"))
      val cells = vals.crossJoin(broadcast(med))
        .groupBy(col("grp"), expr("cents > med_cents").as("above"))
        .agg(count(lit(1)).as("o"))
      val rows = cells.groupBy("grp").agg(sum("o").as("r"))
      val cols = cells.groupBy("above").agg(sum("o").as("c"))
      val tot = cells.agg(sum("o").as("n"))
      cells.join(broadcast(rows), "grp").join(broadcast(cols), "above")
        .crossJoin(broadcast(tot)).crossJoin(broadcast(med))
        .withColumn("e", expr("greatest(r * c div n, 1)"))
        .withColumn("d", expr("o - r * c div n"))
        .agg(max("n").as("n"), max("med_cents").as("med_cents"),
          sum(expr("d * d * 1000 div e")).as("chi2_milli"))
    },

    "return_by_price_band" -> { (sp, dir) =>
      Tables.lineitem(sp, dir)
        .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT) div 100000").as("band"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_lines"), sum("ret").as("n_returned"))
        .withColumn("ret_pm", expr("n_returned * 1000 div n_lines"))
        .orderBy("band")
    },

    "benford_second_digit" -> { (sp, dir) =>
      import sp.implicits._
      val expect = Benford2Ppm.toDF("digit", "exp_ppm")
        .select(col("digit").cast("long").as("digit"), col("exp_ppm"))
      val obs = Tables.lineitem(sp, dir)
        .select(round(col("l_extendedprice") * 100).cast("bigint").as("cents"))
        .filter(col("cents") >= 10)
        .select(expr("CAST(substring(CAST(cents AS STRING), 2, 1) AS BIGINT)").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      val tot = obs.agg(sum("n_obs").as("total"))
      obs.join(broadcast(expect), Seq("digit"), "right")
        .crossJoin(broadcast(tot))
        .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs"),
          expr("coalesce(n_obs, 0) * 1000000 div total").as("obs_ppm"),
          col("exp_ppm"),
          expr("abs(coalesce(n_obs, 0) * 1000000 div total - exp_ppm)").as("dev_ppm"))
        .orderBy("digit")
    },

    "quantity_discount_curve" -> { (sp, dir) =>
      Tables.lineitem(sp, dir)
        .select(round(col("l_quantity")).cast("bigint").as("qty"),
          round(col("l_discount") * 100).cast("bigint").as("disc_pct"))
        .groupBy("qty")
        .agg(count(lit(1)).as("n_lines"), sum("disc_pct").as("s"))
        .withColumn("disc_milli_pct", expr("s * 1000 div n_lines"))
        .select("qty", "n_lines", "disc_milli_pct")
        .orderBy("qty")
    },

    "cadence_drift" -> { (sp, dir) =>
      val byCust = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
      val gaps = Tables.orders(sp, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"))
        .withColumn("gap", col("day") - lag("day", 1).over(byCust))
        .withColumn("idx", row_number().over(byCust) - 1)
        .filter(col("gap").isNotNull)
      val counts = gaps.groupBy("o_custkey").agg(count(lit(1)).as("n_gaps"))
      val perCust = gaps.join(counts, "o_custkey")
        .filter(col("n_gaps") >= 3)
        .groupBy("o_custkey")
        .agg(max("n_gaps").as("n_gaps"),
          sum(when(expr("idx <= n_gaps div 2"), col("gap")).otherwise(0L)).as("first_sum"),
          sum(when(expr("idx > n_gaps - n_gaps div 2"), col("gap")).otherwise(0L)).as("last_sum"))
      perCust.agg(count(lit(1)).as("n_customers"),
          sum(when(col("last_sum") < col("first_sum"), 1L).otherwise(0L)).as("n_speeding"),
          sum(when(col("last_sum") > col("first_sum"), 1L).otherwise(0L)).as("n_slowing"),
          sum(when(col("last_sum") === col("first_sum"), 1L).otherwise(0L)).as("n_flat"))
        .withColumn("speeding_pm", expr("n_speeding * 1000 div n_customers"))
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "brand_vwap" ->
      """SELECT p_brand AS brand, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(qty) AS BIGINT) AS units,
        |  CAST(sum(qty * cents) * 1000 // sum(qty) AS BIGINT) AS vwap_milli
        |FROM (
        |  SELECT p_brand, CAST(round(l_quantity) AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem JOIN part ON p_partkey = l_partkey) t
        |GROUP BY 1 ORDER BY brand""".stripMargin,

    "demand_peaking" ->
      s"""WITH per_day AS (
         |  SELECT p_brand AS brand,
         |    epoch_us(CAST(l_shipdate AS TIMESTAMP)) // $DayUs AS day,
         |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
         |  FROM lineitem JOIN part ON p_partkey = l_partkey
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT brand, day, qty,
         |    row_number() OVER (PARTITION BY brand ORDER BY qty DESC, day) AS rk
         |  FROM per_day)
         |SELECT brand, CAST(count(*) AS BIGINT) AS n_days,
         |  CAST(sum(qty) AS BIGINT) AS total_qty,
         |  CAST(max(qty) AS BIGINT) AS peak_qty,
         |  CAST(max(CASE WHEN rk = 1 THEN day END) AS BIGINT) AS peak_day,
         |  CAST(max(qty) * count(*) * 1000 // sum(qty) AS BIGINT) AS peak_mean_milli
         |FROM ranked GROUP BY brand ORDER BY brand""".stripMargin,

    "mood_median_test" ->
      """WITH vals AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CASE WHEN l_returnflag = 'R' THEN 'ret' ELSE 'kept' END AS grp
        |  FROM lineitem),
        |hist AS (
        |  SELECT cents, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(count(*)) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(count(*)) OVER () AS BIGINT) AS n
        |  FROM vals GROUP BY cents),
        |med AS (
        |  SELECT cents AS med_cents FROM hist
        |  WHERE cum - cnt < 1 + (n - 1) * 50 // 100 AND 1 + (n - 1) * 50 // 100 <= cum),
        |cells AS (
        |  SELECT grp, cents > med_cents AS above, CAST(count(*) AS BIGINT) AS o
        |  FROM vals CROSS JOIN med GROUP BY 1, 2),
        |rt AS (SELECT grp, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        |ct AS (SELECT above, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
        |SELECT CAST(max(n) AS BIGINT) AS n,
        |  CAST(max(med_cents) AS BIGINT) AS med_cents,
        |  CAST(sum((o - r * c // n) * (o - r * c // n) * 1000
        |    // greatest(r * c // n, 1)) AS BIGINT) AS chi2_milli
        |FROM cells JOIN rt USING (grp) JOIN ct USING (above)
        |CROSS JOIN tot CROSS JOIN med""".stripMargin,

    "return_by_price_band" ->
      """SELECT CAST(round(l_extendedprice * 100) AS BIGINT) // 100000 AS band,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) * 1000
        |    // count(*) AS BIGINT) AS ret_pm
        |FROM lineitem GROUP BY 1 ORDER BY band""".stripMargin,

    "benford_second_digit" -> {
      val expectRows = Benford2Ppm
        .map { case (d, ppm) => s"($d, $ppm)" }.mkString(", ")
      s"""WITH expect AS (
         |  SELECT CAST(digit AS BIGINT) AS digit, CAST(exp_ppm AS BIGINT) AS exp_ppm
         |  FROM (VALUES $expectRows) v(digit, exp_ppm)),
         |obs AS (
         |  SELECT CAST(substring(CAST(cents AS VARCHAR), 2, 1) AS BIGINT) AS digit,
         |    CAST(count(*) AS BIGINT) AS n_obs
         |  FROM (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
         |        FROM lineitem) t
         |  WHERE cents >= 10 GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS total FROM obs)
         |SELECT e.digit, CAST(coalesce(n_obs, 0) AS BIGINT) AS n_obs,
         |  CAST(coalesce(n_obs, 0) * 1000000 // total AS BIGINT) AS obs_ppm,
         |  e.exp_ppm,
         |  CAST(abs(coalesce(n_obs, 0) * 1000000 // total - e.exp_ppm) AS BIGINT) AS dev_ppm
         |FROM obs RIGHT JOIN expect e USING (digit)
         |CROSS JOIN tot
         |ORDER BY e.digit""".stripMargin
    },

    "quantity_discount_curve" ->
      """SELECT CAST(round(l_quantity) AS BIGINT) AS qty,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) * 1000
        |    // count(*) AS BIGINT) AS disc_milli_pct
        |FROM lineitem GROUP BY 1 ORDER BY qty""".stripMargin,

    "cadence_drift" ->
      s"""WITH seq AS (
         |  SELECT o_custkey,
         |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS day, o_orderkey
         |  FROM orders),
         |gaps AS (
         |  SELECT o_custkey, gap, idx FROM (
         |    SELECT o_custkey,
         |      day - lag(day) OVER w AS gap,
         |      row_number() OVER w - 1 AS idx
         |    FROM seq WINDOW w AS (PARTITION BY o_custkey ORDER BY day, o_orderkey))
         |  WHERE gap IS NOT NULL),
         |counts AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_gaps FROM gaps GROUP BY 1),
         |per_cust AS (
         |  SELECT g.o_custkey,
         |    CAST(sum(CASE WHEN idx <= n_gaps // 2 THEN gap ELSE 0 END) AS BIGINT) AS first_sum,
         |    CAST(sum(CASE WHEN idx > n_gaps - n_gaps // 2 THEN gap ELSE 0 END) AS BIGINT) AS last_sum
         |  FROM gaps g JOIN counts USING (o_custkey)
         |  WHERE n_gaps >= 3 GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_customers,
         |  CAST(sum(CASE WHEN last_sum < first_sum THEN 1 ELSE 0 END) AS BIGINT) AS n_speeding,
         |  CAST(sum(CASE WHEN last_sum > first_sum THEN 1 ELSE 0 END) AS BIGINT) AS n_slowing,
         |  CAST(sum(CASE WHEN last_sum = first_sum THEN 1 ELSE 0 END) AS BIGINT) AS n_flat,
         |  CAST(sum(CASE WHEN last_sum < first_sum THEN 1 ELSE 0 END) * 1000
         |    // count(*) AS BIGINT) AS speeding_pm
         |FROM per_cust""".stripMargin
  )
}
