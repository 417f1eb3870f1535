package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF
import graft.queries.IntIdioms.tdivSql

/** Round-13 batch #7 — two-factor ANOVA, SPC control charts, inventory
  * sizing, and the tokenizer-consistency audit:
  *
  *  - `two_way_anova`: platform × day-of-week decomposition of purchase
  *    value — SSA, SSB, interaction (SS_cells − SSA − SSB), and total, in
  *    exact milli² via the anova_platform_value tdiv/milli-mean idiom.
  *    DOW is the engine-neutral `(epoch_day + 4) % 7` (1970-01-01 was a
  *    Thursday) — Spark's dayofweek and DuckDB's disagree on numbering,
  *    so neither is used. Three key-shrinking rollups, fact scanned once.
  *  - `xbar_r_chart`: Shewhart X̄/R control chart over full weeks of daily
  *    revenue (subgroup size 7): per-week mean (milli) and range, grand
  *    limits from the standard A2/D3/D4 constants for n=7 (0.419 / 0.076
  *    / 1.924, embedded in milli on both engines), and out-of-control
  *    flags — the SPC read of the revenue series.
  *  - `eoq_plan`: economic order quantity per brand —
  *    EOQ = √(2·D·S/H) with S a fixed order cost and H a tenth of the
  *    brand's volume-weighted unit price; the root is the exact integer
  *    isqrt. One broadcast part join + one rollup.
  *  - `fertility_outliers`: docs whose BPE-to-whitespace token ratio
  *    exceeds the corpus p99 (tokenizer blowup detection — code, digit
  *    runs, non-Latin text inflate BPE counts): ratio histogram →
  *    cumulative p99 (value-domain, the percentiles_exact rule) → one
  *    broadcast threshold compare.
  */
object Queries184 extends QuerySet {
  private val DayUs = 86400000000L
  // Shewhart constants for subgroup size 7, in milli
  private val A2Milli = 419L
  private val D3Milli = 76L
  private val D4Milli = 1924L
  private val OrderCostCents = 5000L

  private def isqrt(n: String): String = {
    val s0 = s"CAST(floor(sqrt(CAST($n AS DOUBLE))) AS BIGINT)"
    s"($s0 + (CASE WHEN (($s0) + 1) * (($s0) + 1) <= $n THEN 1 ELSE 0 END)" +
      s" - (CASE WHEN ($s0) * ($s0) > $n THEN 1 ELSE 0 END))"
  }

  val defs: Map[String, Q] = Map(
    "two_way_anova" -> { (sp, dir) =>
      val x = Synth.withRaw(Tables.events(sp, dir))
        .filter(col("event_type") === "purchase")
        .select(col("platform_code").as("a"),
          expr(s"(ts_us div $DayUs + 4) % 7").as("b"),
          expr("CAST(round(value * 100) AS BIGINT) div 100").as("d"))
      val cells = graft.util.CacheScope.track(
        x.groupBy("a", "b").agg(count(lit(1)).as("n_ab"), sum("d").as("s_ab"),
          sum(expr("d * d")).as("sxx_ab")))
      val aM = cells.groupBy("a").agg(sum("n_ab").as("n_a"), sum("s_ab").as("s_a"))
      val bM = cells.groupBy("b").agg(sum("n_ab").as("n_b"), sum("s_ab").as("s_b"))
      val g = cells.agg(sum("n_ab").as("n"), sum("s_ab").as("sx"), sum("sxx_ab").as("sxx"))
        .withColumn("m", expr("(sx * 1000) div n"))
      val ssa = aM.crossJoin(broadcast(g))
        .withColumn("m_a", expr("(s_a * 1000) div n_a"))
        .agg(sum(expr("n_a * (m_a - m) * (m_a - m)")).as("ss_a"))
      val ssb = bM.crossJoin(broadcast(g))
        .withColumn("m_b", expr("(s_b * 1000) div n_b"))
        .agg(sum(expr("n_b * (m_b - m) * (m_b - m)")).as("ss_b"))
      val ssCells = cells.crossJoin(broadcast(g))
        .withColumn("m_ab", expr("(s_ab * 1000) div n_ab"))
        .agg(sum(expr("n_ab * (m_ab - m) * (m_ab - m)")).as("ss_cells"),
          max(expr("1000000 * sxx - 2000 * m * sx + n * m * m")).as("ss_total"))
      g.crossJoin(broadcast(ssa)).crossJoin(broadcast(ssb)).crossJoin(broadcast(ssCells))
        .select(col("n"), col("ss_a"), col("ss_b"),
          (col("ss_cells") - col("ss_a") - col("ss_b")).as("ss_ab"),
          col("ss_total"),
          expr("ss_a div (ss_total div 1000)").as("eta_a_milli"),
          expr("ss_b div (ss_total div 1000)").as("eta_b_milli"))
    },

    "xbar_r_chart" -> { (sp, dir) =>
      val daily = Tables.orders(sp, dir)
        .groupBy(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT) div 100")).as("rev"))
      val weeks = graft.util.CacheScope.track(daily
        .groupBy(expr("day div 7").as("week"))
        .agg(count(lit(1)).as("n_days"), sum("rev").as("s"),
          (max("rev") - min("rev")).as("r"))
        .filter(col("n_days") === 7)
        .withColumn("mean_milli", expr("s * 1000 div 7")))
      val limits = weeks.agg(count(lit(1)).as("n_weeks"),
          expr("sum(s) * 1000 div (7 * count(1))").as("xbarbar_milli"),
          expr("sum(r) * 1000 div count(1)").as("rbar_milli"))
        .withColumn("ucl_x_milli", expr(s"xbarbar_milli + $A2Milli * rbar_milli div 1000"))
        .withColumn("lcl_x_milli", expr(s"xbarbar_milli - $A2Milli * rbar_milli div 1000"))
        .withColumn("ucl_r_milli", expr(s"$D4Milli * rbar_milli div 1000"))
        .withColumn("lcl_r_milli", expr(s"$D3Milli * rbar_milli div 1000"))
      weeks.crossJoin(broadcast(limits))
        .select(col("week"), col("mean_milli"), (col("r") * 1000).as("range_milli"),
          col("xbarbar_milli"), col("rbar_milli"),
          when(col("mean_milli") > col("ucl_x_milli") ||
            col("mean_milli") < col("lcl_x_milli"), 1L).otherwise(0L).as("out_x"),
          when(col("r") * 1000 > col("ucl_r_milli") ||
            col("r") * 1000 < col("lcl_r_milli"), 1L).otherwise(0L).as("out_r"))
        .orderBy("week")
    },

    "eoq_plan" -> { (sp, dir) =>
      Tables.lineitem(sp, dir)
        .join(broadcast(Tables.part(sp, dir).select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          round(col("l_quantity")).cast("bigint").as("qty"),
          round(col("l_extendedprice") * 100).cast("bigint").as("cents"))
        .groupBy("brand")
        .agg(sum("qty").as("units"), sum(expr("qty * cents")).as("qty_cents"))
        .withColumn("unit_cents", expr("qty_cents div units"))
        .withColumn("h_cents", expr("greatest(unit_cents div 10, 1)"))
        .withColumn("eoq_units",
          expr(isqrt(s"(2 * units * $OrderCostCents div h_cents)")))
        .select("brand", "units", "unit_cents", "eoq_units")
        .orderBy("brand")
    },

    "fertility_outliers" -> { (sp, dir) =>
      val ratios = graft.util.CacheScope.track(
        Tables.documents(sp, dir)
          .select(TextF.bpeTokenCount(col("text")).cast("long").as("bpe"),
            TextF.tokenCount(col("text")).cast("long").as("ws"))
          // integer div, not double division: FP rounding at an exact
          // boundary would diverge from DuckDB's //
          .select(expr("bpe * 1000 div greatest(ws, 1)").as("ratio_milli")))
      val hist = ratios.groupBy("ratio_milli").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(Window.orderBy("ratio_milli")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum("cnt").over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      val p99 = hist
        .filter(expr("cum - cnt < 1 + (n - 1) * 99 div 100 AND 1 + (n - 1) * 99 div 100 <= cum"))
        .select(col("ratio_milli").as("p99_milli"), col("n").as("n_docs"))
      ratios.crossJoin(broadcast(p99))
        .agg(max("n_docs").as("n_docs"), max("p99_milli").as("p99_milli"),
          sum(when(col("ratio_milli") > col("p99_milli"), 1L).otherwise(0L)).as("n_outliers"))
        .withColumn("outlier_pm", expr("n_outliers * 1000 div n_docs"))
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "two_way_anova" -> Synth.withCte(
      s""", x AS (
         |  SELECT platform_code AS a, (ts_us // $DayUs + 4) % 7 AS b,
         |    CAST(round(value * 100) AS BIGINT) // 100 AS d
         |  FROM raw WHERE event_type = 'purchase'),
         |cells AS (
         |  SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab,
         |    CAST(sum(d) AS BIGINT) AS s_ab, CAST(sum(d * d) AS BIGINT) AS sxx_ab
         |  FROM x GROUP BY 1, 2),
         |am AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a, CAST(sum(s_ab) AS BIGINT) AS s_a FROM cells GROUP BY 1),
         |bm AS (SELECT b, CAST(sum(n_ab) AS BIGINT) AS n_b, CAST(sum(s_ab) AS BIGINT) AS s_b FROM cells GROUP BY 1),
         |g AS (
         |  SELECT CAST(sum(n_ab) AS BIGINT) AS n, CAST(sum(s_ab) AS BIGINT) AS sx,
         |    CAST(sum(sxx_ab) AS BIGINT) AS sxx,
         |    ${tdivSql("(sum(s_ab) * 1000)", "sum(n_ab)")} AS m
         |  FROM cells),
         |ssa AS (
         |  SELECT CAST(sum(n_a * (m_a - m) * (m_a - m)) AS BIGINT) AS ss_a
         |  FROM (SELECT n_a, ${tdivSql("(s_a * 1000)", "n_a")} AS m_a, m FROM am CROSS JOIN g) t),
         |ssb AS (
         |  SELECT CAST(sum(n_b * (m_b - m) * (m_b - m)) AS BIGINT) AS ss_b
         |  FROM (SELECT n_b, ${tdivSql("(s_b * 1000)", "n_b")} AS m_b, m FROM bm CROSS JOIN g) t),
         |ssc AS (
         |  SELECT CAST(sum(n_ab * (m_ab - m) * (m_ab - m)) AS BIGINT) AS ss_cells,
         |    CAST(max(1000000 * sxx - 2000 * m * sx + n * m * m) AS BIGINT) AS ss_total
         |  FROM (SELECT n_ab, ${tdivSql("(s_ab * 1000)", "n_ab")} AS m_ab, m, n, sx, sxx
         |        FROM cells CROSS JOIN g) t)
         |SELECT n, ss_a, ss_b,
         |  CAST(ss_cells - ss_a - ss_b AS BIGINT) AS ss_ab, ss_total,
         |  ${tdivSql("ss_a", "(ss_total // 1000)")} AS eta_a_milli,
         |  ${tdivSql("ss_b", "(ss_total // 1000)")} AS eta_b_milli
         |FROM g CROSS JOIN ssa CROSS JOIN ssb CROSS JOIN ssc""".stripMargin),

    "xbar_r_chart" ->
      s"""WITH daily AS (
         |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS day,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT) // 100) AS BIGINT) AS rev
         |  FROM orders GROUP BY 1),
         |weeks AS (
         |  SELECT day // 7 AS week, CAST(count(*) AS BIGINT) AS n_days,
         |    CAST(sum(rev) AS BIGINT) AS s,
         |    CAST(max(rev) - min(rev) AS BIGINT) AS r,
         |    CAST(sum(rev) * 1000 // 7 AS BIGINT) AS mean_milli
         |  FROM daily GROUP BY 1 HAVING count(*) = 7),
         |limits AS (
         |  SELECT CAST(sum(s) * 1000 // (7 * count(*)) AS BIGINT) AS xbarbar_milli,
         |    CAST(sum(r) * 1000 // count(*) AS BIGINT) AS rbar_milli
         |  FROM weeks)
         |SELECT week, mean_milli, CAST(r * 1000 AS BIGINT) AS range_milli,
         |  xbarbar_milli, rbar_milli,
         |  CAST(CASE WHEN mean_milli > xbarbar_milli + $A2Milli * rbar_milli // 1000
         |              OR mean_milli < xbarbar_milli - $A2Milli * rbar_milli // 1000
         |       THEN 1 ELSE 0 END AS BIGINT) AS out_x,
         |  CAST(CASE WHEN r * 1000 > $D4Milli * rbar_milli // 1000
         |              OR r * 1000 < $D3Milli * rbar_milli // 1000
         |       THEN 1 ELSE 0 END AS BIGINT) AS out_r
         |FROM weeks CROSS JOIN limits ORDER BY week""".stripMargin,

    "eoq_plan" -> {
      val eoq = isqrt(s"(2 * units * $OrderCostCents // h_cents)")
        .replace(" div ", " // ")
      s"""WITH per AS (
         |  SELECT p_brand AS brand,
         |    CAST(sum(qty) AS BIGINT) AS units,
         |    CAST(sum(qty * cents) AS BIGINT) AS qty_cents
         |  FROM (
         |    SELECT p_brand, CAST(round(l_quantity) AS BIGINT) AS qty,
         |      CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
         |    FROM lineitem JOIN part ON p_partkey = l_partkey) t
         |  GROUP BY 1),
         |w AS (
         |  SELECT brand, units, qty_cents // units AS unit_cents,
         |    greatest(qty_cents // units // 10, 1) AS h_cents
         |  FROM per)
         |SELECT brand, units, CAST(unit_cents AS BIGINT) AS unit_cents,
         |  CAST($eoq AS BIGINT) AS eoq_units
         |FROM w ORDER BY brand""".stripMargin
    },

    "fertility_outliers" -> {
      val pat = TextF.BpeTokenPattern.replace("'", "''")
      s"""WITH ratios AS (
         |  SELECT CAST(len(regexp_extract_all(text, '$pat')) * 1000
         |    // greatest(CASE WHEN ${TextF.NormalizeTextSql} = '' THEN 0
         |                     ELSE len(${TextF.TokensSql}) END, 1) AS BIGINT) AS ratio_milli
         |  FROM documents),
         |hist AS (
         |  SELECT ratio_milli, CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(sum(count(*)) OVER (ORDER BY ratio_milli ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         |    CAST(sum(count(*)) OVER () AS BIGINT) AS n
         |  FROM ratios GROUP BY 1),
         |p99 AS (
         |  SELECT ratio_milli AS p99_milli, n AS n_docs FROM hist
         |  WHERE cum - cnt < 1 + (n - 1) * 99 // 100 AND 1 + (n - 1) * 99 // 100 <= cum)
         |SELECT max(n_docs) AS n_docs, CAST(max(p99_milli) AS BIGINT) AS p99_milli,
         |  CAST(sum(CASE WHEN ratio_milli > p99_milli THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         |  CAST(sum(CASE WHEN ratio_milli > p99_milli THEN 1 ELSE 0 END) * 1000
         |    // max(n_docs) AS BIGINT) AS outlier_pm
         |FROM ratios CROSS JOIN p99""".stripMargin
    }
  )
}
