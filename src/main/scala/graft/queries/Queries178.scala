package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.IntIdioms.tdivSql

/** Round-13 batch #1 — classical statistics over the order calendar, all in
  * exact integer arithmetic (SURVEY §6 portability rules):
  *
  *  - `chi_square_independence`: platform × event-type contingency test.
  *    Expected counts in integer units via e = r·c div n; χ² rendered in
  *    milli as Σ d²·1000 div e over the bounded (10 × 9) cell grid. Three
  *    key-shrinking aggregates + broadcast joins — the fact table is
  *    touched once. Exact to n ≈ 3×10⁹ events (r·c and d² stay < 2⁶³);
  *    beyond that, pre-scale the margins.
  *  - `kendall_tau_daily`: Kendall concordance between daily order count
  *    and daily revenue. The all-pairs table is CALENDAR-bounded (~2.9M
  *    day-pairs at ANY scale factor — theil_sen_trend's adjudicated
  *    shape), built as a broadcast self-join; τ_a in exact micro-units
  *    via truncating division.
  *  - `rolling_corr`: 7-day rolling Pearson components between daily
  *    orders and revenue (quantized to $100 units so every cross-product
  *    stays < 2⁶³ to ~10⁵ orders/day): cov and variance numerators are
  *    EXACT integers (n·Σxy − ΣxΣy form); r² in per-mille plus the sign —
  *    no square root, no floats. Windows run over the bounded daily
  *    rollup, never the fact table.
  *  - `acf_daily`: autocorrelation components of daily order count at
  *    lags 1..7 — each lag is one equi-join of the daily rollup against
  *    itself shifted (join key day+lag), components exact as above.
  *  - `lead_lag_xcorr`: cross-correlation of daily clicks vs purchases at
  *    lags −3..+3 (does click volume LEAD purchase volume?) — the
  *    campaign-latency read; same exact-component machinery.
  *  - `updown_streaks`: gaps-and-islands over the signed day-over-day
  *    revenue delta — up/down/flat day counts, longest up and down
  *    streaks, and run counts; the momentum profile of the revenue
  *    series. All windows over the bounded daily frame.
  *  - `price_endings`: distribution of price cent-endings (x.99 pricing)
  *    with per-ending quantity response — one scan, 100 groups.
  *  - `part_intro_rate`: new-product introduction per quarter — parts
  *    whose FIRST shipment falls in the quarter, and the revenue they
  *    earn within that intro quarter. Two aggregates + one co-partitioned
  *    join on partkey.
  */
object Queries178 extends QuerySet {
  private val DayUs = 86400000000L

  /** Daily order rollup: (day, x = n_orders, rev_cents). */
  private def daily(sp: SparkSession, dir: String): DataFrame =
    Tables.orders(sp, dir)
      .groupBy(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev_cents"))

  private val DailySql =
    s"""SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS day,
       |  CAST(count(*) AS BIGINT) AS x,
       |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
       |FROM orders GROUP BY 1""".stripMargin

  /** Exact correlation components from (n, sx, sy, sxy, sxx, syy) sums:
    * cov_num = n·sxy − sx·sy (and the two variance numerators), r² in
    * per-mille, and the covariance sign. */
  private[queries] def corrCols(df: DataFrame): DataFrame =
    df.withColumn("cov_num", expr("np * sxy - sx * sy"))
      .withColumn("varx_num", expr("np * sxx - sx * sx"))
      .withColumn("vary_num", expr("np * syy - sy * sy"))
      .withColumn("r2_pm",
        expr("cov_num * cov_num * 1000 div greatest(varx_num * vary_num, 1)"))
      .withColumn("corr_sign",
        expr("CAST(CASE WHEN cov_num > 0 THEN 1 WHEN cov_num < 0 THEN -1 ELSE 0 END AS BIGINT)"))

  private[queries] val CorrColsSql =
    """np * sxy - sx * sy AS cov_num,
      |  np * sxx - sx * sx AS varx_num,
      |  np * syy - sy * sy AS vary_num,
      |  CAST((np * sxy - sx * sy) * (np * sxy - sx * sy) * 1000
      |    // greatest((np * sxx - sx * sx) * (np * syy - sy * sy), 1) AS BIGINT) AS r2_pm,
      |  CAST(CASE WHEN np * sxy - sx * sy > 0 THEN 1
      |            WHEN np * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS BIGINT) AS corr_sign""".stripMargin

  val defs: Map[String, Q] = Map(
    "chi_square_independence" -> { (sp, dir) =>
      val cells = Synth.withRaw(Tables.events(sp, dir))
        .groupBy("platform_code", "event_code").agg(count(lit(1)).as("o"))
      val rows = cells.groupBy("platform_code").agg(sum("o").as("r"))
      val cols = cells.groupBy("event_code").agg(sum("o").as("c"))
      val tot = cells.agg(sum("o").as("n"),
        countDistinct("platform_code").as("nr"), countDistinct("event_code").as("nc"))
      cells.join(broadcast(rows), "platform_code")
        .join(broadcast(cols), "event_code")
        .crossJoin(broadcast(tot))
        .withColumn("e", expr("greatest(r * c div n, 1)"))
        .withColumn("d", expr("o - r * c div n"))
        .agg(max("n").as("n"), max(expr("(nr - 1) * (nc - 1)")).as("dof"),
          sum(expr("d * d * 1000 div e")).as("chi2_milli"))
    },

    "kendall_tau_daily" -> { (sp, dir) =>
      val d = daily(sp, dir)
      val a = d.select(col("day").as("d1"), col("x").as("x1"), col("rev_cents").as("y1"))
      val b = d.select(col("day").as("d2"), col("x").as("x2"), col("rev_cents").as("y2"))
      val nDays = d.agg(count(lit(1)).as("n_days"))
      a.join(broadcast(b), col("d1") < col("d2"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(expr("(x1 - x2) * (y1 - y2) > 0"), 1L).otherwise(0L)).as("concordant"),
          sum(when(expr("(x1 - x2) * (y1 - y2) < 0"), 1L).otherwise(0L)).as("discordant"),
          sum(when(expr("x1 = x2 OR y1 = y2"), 1L).otherwise(0L)).as("ties"))
        .crossJoin(broadcast(nDays))
        .select(col("n_days"), col("n_pairs"), col("concordant"), col("discordant"),
          col("ties"),
          expr("(concordant - discordant) * 1000000 div n_pairs").as("tau_a_micro"))
    },

    "rolling_corr" -> { (sp, dir) =>
      val w = Window.orderBy("day").rowsBetween(-6, 0)
      corrCols(daily(sp, dir)
        .select(col("day"), col("x"), expr("rev_cents div 10000").as("y"))
        .withColumn("np", count(lit(1)).over(w))
        .withColumn("sx", sum("x").over(w)).withColumn("sy", sum("y").over(w))
        .withColumn("sxy", sum(expr("x * y")).over(w))
        .withColumn("sxx", sum(expr("x * x")).over(w))
        .withColumn("syy", sum(expr("y * y")).over(w))
        .filter(col("np") === 7))
        .select(col("day"), col("cov_num"), col("varx_num"), col("vary_num"),
          col("r2_pm"), col("corr_sign"))
        .orderBy("day")
    },

    "acf_daily" -> { (sp, dir) =>
      import sp.implicits._
      val d = daily(sp, dir).select(col("day"), col("x"))
      val lags = (1 to 7).map(_.toLong).toDF("lag")
      d.crossJoin(broadcast(lags))
        .withColumn("tday", col("day") + col("lag"))
        .join(d.select(col("day").as("tday"), col("x").as("x2")), "tday")
        .groupBy("lag")
        .agg(count(lit(1)).as("np"),
          sum("x").as("sx"), sum("x2").as("sy"),
          sum(expr("x * x2")).as("sxy"),
          sum(expr("x * x")).as("sxx"), sum(expr("x2 * x2")).as("syy"))
        .transform(corrCols)
        .select(col("lag"), col("np").as("n_pairs"), col("cov_num"),
          col("r2_pm"), col("corr_sign"))
        .orderBy("lag")
    },

    "lead_lag_xcorr" -> { (sp, dir) =>
      import sp.implicits._
      val d = Tables.events(sp, dir)
        .groupBy(expr(s"ts_us div $DayUs").as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
      val lags = (-3 to 3).map(_.toLong).toDF("lag")
      // pair clicks on `day` with purchases on `day + lag`
      d.select(col("day"), col("x")).crossJoin(broadcast(lags))
        .withColumn("tday", col("day") + col("lag"))
        .join(d.select(col("day").as("tday"), col("p").as("y")), "tday")
        .groupBy("lag")
        .agg(count(lit(1)).as("np"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("x * y")).as("sxy"),
          sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"))
        .transform(corrCols)
        .select(col("lag"), col("np").as("n_pairs"), col("cov_num"),
          col("r2_pm"), col("corr_sign"))
        .orderBy("lag")
    },

    "updown_streaks" -> { (sp, dir) =>
      val byDay = Window.orderBy("day")
      val signed = daily(sp, dir)
        .withColumn("prev", lag("rev_cents", 1).over(byDay))
        .filter(col("prev").isNotNull)
        .withColumn("s", expr(
          "CASE WHEN rev_cents > prev THEN 1 WHEN rev_cents < prev THEN -1 ELSE 0 END"))
      val runs = signed
        .withColumn("brk",
          when(lag("s", 1).over(byDay).isNull ||
            lag("s", 1).over(byDay) =!= col("s"), 1L).otherwise(0L))
        .withColumn("run_id", sum("brk").over(
          byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("run_id", "s").agg(count(lit(1)).as("len"))
      runs.agg(
        sum(when(col("s") === 1, col("len")).otherwise(0L)).as("n_up_days"),
        sum(when(col("s") === -1, col("len")).otherwise(0L)).as("n_down_days"),
        sum(when(col("s") === 0, col("len")).otherwise(0L)).as("n_flat_days"),
        max(when(col("s") === 1, col("len")).otherwise(0L)).as("longest_up"),
        max(when(col("s") === -1, col("len")).otherwise(0L)).as("longest_down"),
        sum(when(col("s") === 1, 1L).otherwise(0L)).as("n_up_runs"),
        sum(when(col("s") === -1, 1L).otherwise(0L)).as("n_down_runs"))
    },

    "price_endings" -> { (sp, dir) =>
      val tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.lineitem(sp, dir)
        .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT) % 100").as("ending"),
          round(col("l_quantity")).cast("bigint").as("qty"))
        .groupBy("ending")
        .agg(count(lit(1)).as("n_lines"), sum("qty").as("sum_qty"))
        .withColumn("total", sum("n_lines").over(tot)) // 100-row window
        .withColumn("share_pm", expr("n_lines * 1000 div total"))
        .withColumn("qty_milli_avg", expr("sum_qty * 1000 div n_lines"))
        .select(col("ending"), col("n_lines"), col("share_pm"), col("qty_milli_avg"))
        .orderBy("ending")
    },

    "part_intro_rate" -> { (sp, dir) =>
      val li = Tables.lineitem(sp, dir)
        .select(col("l_partkey"),
          expr("CAST(year(l_shipdate) * 10 + quarter(l_shipdate) AS BIGINT)").as("qid"),
          round(col("l_extendedprice") * 100).cast("bigint").as("cents"))
      val firstQ = li.groupBy("l_partkey").agg(min("qid").as("q0"))
      li.join(firstQ, "l_partkey")
        .filter(col("qid") === col("q0"))
        .groupBy(col("q0").as("quarter"))
        .agg(countDistinct("l_partkey").as("n_new_parts"),
          sum("cents").as("intro_rev_cents"))
        .orderBy("quarter")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "chi_square_independence" -> Synth.withCte(
      """, cells AS (
        |  SELECT platform_code, event_code, CAST(count(*) AS BIGINT) AS o
        |  FROM raw GROUP BY 1, 2),
        |rt AS (SELECT platform_code, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        |ct AS (SELECT event_code, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |               CAST(count(DISTINCT platform_code) AS BIGINT) AS nr,
        |               CAST(count(DISTINCT event_code) AS BIGINT) AS nc FROM cells)
        |SELECT CAST(max(n) AS BIGINT) AS n,
        |  CAST(max((nr - 1) * (nc - 1)) AS BIGINT) AS dof,
        |  CAST(sum((o - r * c // n) * (o - r * c // n) * 1000
        |    // greatest(r * c // n, 1)) AS BIGINT) AS chi2_milli
        |FROM cells JOIN rt USING (platform_code) JOIN ct USING (event_code)
        |CROSS JOIN tot""".stripMargin),

    "kendall_tau_daily" ->
      s"""WITH d AS ($DailySql)
         |SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_days,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN (a.x - b.x) * (a.rev_cents - b.rev_cents) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
         |  CAST(sum(CASE WHEN (a.x - b.x) * (a.rev_cents - b.rev_cents) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
         |  CAST(sum(CASE WHEN a.x = b.x OR a.rev_cents = b.rev_cents THEN 1 ELSE 0 END) AS BIGINT) AS ties,
         |  ${tdivSql(
          "(sum(CASE WHEN (a.x - b.x) * (a.rev_cents - b.rev_cents) > 0 THEN 1 ELSE 0 END) " +
            "- sum(CASE WHEN (a.x - b.x) * (a.rev_cents - b.rev_cents) < 0 THEN 1 ELSE 0 END)) * 1000000",
          "count(*)")} AS tau_a_micro
         |FROM d a JOIN d b ON a.day < b.day""".stripMargin,

    "rolling_corr" ->
      s"""WITH d AS ($DailySql),
         |q AS (SELECT day, x, rev_cents // 10000 AS y FROM d),
         |s AS (
         |  SELECT day,
         |    CAST(count(*) OVER w AS BIGINT) AS np,
         |    CAST(sum(x) OVER w AS BIGINT) AS sx, CAST(sum(y) OVER w AS BIGINT) AS sy,
         |    CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
         |    CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
         |    CAST(sum(y * y) OVER w AS BIGINT) AS syy
         |  FROM q
         |  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         |SELECT day, $CorrColsSql
         |FROM s WHERE np = 7 ORDER BY day""".stripMargin,

    "acf_daily" ->
      s"""WITH d AS ($DailySql),
         |lags AS (SELECT CAST(unnest([1, 2, 3, 4, 5, 6, 7]) AS BIGINT) AS lag),
         |paired AS (
         |  SELECT lag, a.x AS x, b.x AS x2
         |  FROM d a CROSS JOIN lags JOIN d b ON b.day = a.day + lag),
         |s AS (
         |  SELECT lag, CAST(count(*) AS BIGINT) AS np,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x2) AS BIGINT) AS sy,
         |    CAST(sum(x * x2) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x2 * x2) AS BIGINT) AS syy
         |  FROM paired GROUP BY 1)
         |SELECT lag, np AS n_pairs, np * sxy - sx * sy AS cov_num,
         |  CAST((np * sxy - sx * sy) * (np * sxy - sx * sy) * 1000
         |    // greatest((np * sxx - sx * sx) * (np * syy - sy * sy), 1) AS BIGINT) AS r2_pm,
         |  CAST(CASE WHEN np * sxy - sx * sy > 0 THEN 1
         |            WHEN np * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS BIGINT) AS corr_sign
         |FROM s ORDER BY lag""".stripMargin,

    "lead_lag_xcorr" ->
      s"""WITH d AS (
         |  SELECT epoch_us(ts) // $DayUs AS day,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS p
         |  FROM events GROUP BY 1),
         |lags AS (SELECT CAST(unnest([-3, -2, -1, 0, 1, 2, 3]) AS BIGINT) AS lag),
         |paired AS (
         |  SELECT lag, a.x AS x, b.p AS y
         |  FROM d a CROSS JOIN lags JOIN d b ON b.day = a.day + lag),
         |s AS (
         |  SELECT lag, CAST(count(*) AS BIGINT) AS np,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
         |  FROM paired GROUP BY 1)
         |SELECT lag, np AS n_pairs, np * sxy - sx * sy AS cov_num,
         |  CAST((np * sxy - sx * sy) * (np * sxy - sx * sy) * 1000
         |    // greatest((np * sxx - sx * sx) * (np * syy - sy * sy), 1) AS BIGINT) AS r2_pm,
         |  CAST(CASE WHEN np * sxy - sx * sy > 0 THEN 1
         |            WHEN np * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS BIGINT) AS corr_sign
         |FROM s ORDER BY lag""".stripMargin,

    "updown_streaks" ->
      s"""WITH d AS ($DailySql),
         |signed AS (
         |  SELECT day,
         |    CASE WHEN rev_cents > prev THEN 1 WHEN rev_cents < prev THEN -1 ELSE 0 END AS s
         |  FROM (SELECT day, rev_cents, lag(rev_cents) OVER (ORDER BY day) AS prev FROM d)
         |  WHERE prev IS NOT NULL),
         |runs AS (
         |  SELECT run_id, s, CAST(count(*) AS BIGINT) AS len
         |  FROM (
         |    SELECT day, s,
         |      sum(CASE WHEN prev_s IS NULL OR prev_s <> s THEN 1 ELSE 0 END)
         |        OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS run_id
         |    FROM (SELECT day, s, lag(s) OVER (ORDER BY day) AS prev_s FROM signed))
         |  GROUP BY 1, 2)
         |SELECT
         |  CAST(sum(CASE WHEN s = 1 THEN len ELSE 0 END) AS BIGINT) AS n_up_days,
         |  CAST(sum(CASE WHEN s = -1 THEN len ELSE 0 END) AS BIGINT) AS n_down_days,
         |  CAST(sum(CASE WHEN s = 0 THEN len ELSE 0 END) AS BIGINT) AS n_flat_days,
         |  CAST(max(CASE WHEN s = 1 THEN len ELSE 0 END) AS BIGINT) AS longest_up,
         |  CAST(max(CASE WHEN s = -1 THEN len ELSE 0 END) AS BIGINT) AS longest_down,
         |  CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up_runs,
         |  CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down_runs
         |FROM runs""".stripMargin,

    "price_endings" ->
      """WITH g AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) % 100 AS ending,
        |    CAST(count(*) AS BIGINT) AS n_lines,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT ending, n_lines,
        |  CAST(n_lines * 1000 // (sum(n_lines) OVER ()) AS BIGINT) AS share_pm,
        |  CAST(sum_qty * 1000 // n_lines AS BIGINT) AS qty_milli_avg
        |FROM g ORDER BY ending""".stripMargin,

    "part_intro_rate" ->
      """WITH li AS (
        |  SELECT l_partkey, year(l_shipdate) * 10 + quarter(l_shipdate) AS qid,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |firstq AS (SELECT l_partkey, min(qid) AS q0 FROM li GROUP BY 1)
        |SELECT CAST(q0 AS BIGINT) AS quarter,
        |  CAST(count(DISTINCT li.l_partkey) AS BIGINT) AS n_new_parts,
        |  CAST(sum(cents) AS BIGINT) AS intro_rev_cents
        |FROM li JOIN firstq USING (l_partkey)
        |WHERE qid = q0
        |GROUP BY 1 ORDER BY quarter""".stripMargin
  )
}
