package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-13 batch #8 — honest-measurement audits:
  *
  *  - `capture_recapture`: Lincoln–Petersen estimate of the DISTINCT-text
  *    population from two deterministic samples (doc_id % 3 / % 5
  *    membership) — N̂ = n₁·n₂/m against the true distinct count: how well
  *    mark-recapture estimates corpus cardinality without a full scan,
  *    with the error in signed pm. Two fingerprint rollups.
  *  - `survivorship_bias`: do retention analyses flatter themselves? Avg
  *    FIRST-order value of customers still active in the data's final
  *    quarter vs those who churned — the classic selection-bias read;
  *    first orders via one per-customer window, survivor set via one
  *    quarter rollup.
  *  - `simpson_paradox_scan`: ordered platform pairs whose OVERALL
  *    purchase-rate ranking strictly reverses in EVERY day-of-week
  *    stratum (strict Simpson reversal) — rates compared exactly by
  *    cross-multiplication over the bounded 10-platform × 7-dow grid;
  *    the confounder alarm for platform dashboards.
  */
object Queries185 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "capture_recapture" -> { (sp, dir) =>
      val fps = graft.util.CacheScope.track(
        Tables.documents(sp, dir)
          .select(col("doc_id"), TextF.docFingerprint(col("text")).as("fp")))
      val stats = fps.agg(
        countDistinct(when(expr("doc_id % 3 = 0"), col("fp"))).as("n_a"),
        countDistinct(when(expr("doc_id % 5 = 0"), col("fp"))).as("n_b"),
        countDistinct("fp").as("true_distinct"))
      val overlap = fps.filter(expr("doc_id % 3 = 0"))
        .select(col("fp")).intersect(
          fps.filter(expr("doc_id % 5 = 0")).select(col("fp")))
        .agg(count(lit(1)).as("overlap"))
      stats.crossJoin(broadcast(overlap))
        .withColumn("estimate", expr("n_a * n_b div greatest(overlap, 1)"))
        .withColumn("err_pm",
          expr("(estimate - true_distinct) * 1000 div true_distinct"))
        .select("n_a", "n_b", "overlap", "estimate", "true_distinct", "err_pm")
    },

    "survivorship_bias" -> { (sp, dir) =>
      val orders = graft.util.CacheScope.track(
        Tables.orders(sp, dir).select(col("o_custkey"), col("o_orderkey"),
          expr("CAST(year(o_orderdate) * 10 + quarter(o_orderdate) AS BIGINT)").as("qid"),
          expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents")))
      val lastQ = orders.agg(max("qid").as("last_q"))
      val survivors = orders.crossJoin(broadcast(lastQ))
        .filter(col("qid") === col("last_q"))
        .select("o_custkey").distinct().withColumn("surv", lit(1L))
      val first = orders
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("cents").as("first_cents"))
      first.join(survivors, Seq("o_custkey"), "left")
        .groupBy(coalesce(col("surv"), lit(0L)).as("survived"))
        .agg(count(lit(1)).as("n_customers"),
          expr("sum(first_cents) * 1000 div count(1)").as("avg_first_milli"))
        .orderBy("survived")
    },

    "simpson_paradox_scan" -> { (sp, dir) =>
      val ev = Synth.withRaw(Tables.events(sp, dir))
        .select(col("platform_code").as("p"),
          expr(s"(ts_us div $DayUs + 4) % 7").as("dow"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("conv"))
      val overall = graft.util.CacheScope.track(
        ev.groupBy("p").agg(count(lit(1)).as("den"), sum("conv").as("num")))
      val strata = graft.util.CacheScope.track(
        ev.groupBy("p", "dow").agg(count(lit(1)).as("den"), sum("conv").as("num")))
      val oPairs = overall.select(col("p").as("pa"), col("num").as("na"), col("den").as("da"))
        .join(broadcast(overall.select(col("p").as("pb"), col("num").as("nb"), col("den").as("db"))),
          col("pa") < col("pb"))
        .withColumn("overall_a_gt_b", expr("na * db > nb * da"))
        .withColumn("overall_b_gt_a", expr("nb * da > na * db"))
      val sPairs = strata.select(col("p").as("pa"), col("dow"), col("num").as("sna"), col("den").as("sda"))
        .join(strata.select(col("p").as("pb"), col("dow").as("dow2"), col("num").as("snb"), col("den").as("sdb")),
          col("pa") < col("pb") && col("dow") === col("dow2"))
        .groupBy("pa", "pb")
        .agg(count(lit(1)).as("n_strata"),
          sum(when(expr("sna * sdb > snb * sda"), 1L).otherwise(0L)).as("a_wins"),
          sum(when(expr("snb * sda > sna * sdb"), 1L).otherwise(0L)).as("b_wins"))
      oPairs.join(sPairs, Seq("pa", "pb"))
        .select(concat(col("pa"), lit("_vs_"), col("pb")).as("pair"),
          col("n_strata"), col("a_wins"), col("b_wins"),
          when((col("overall_a_gt_b") && col("b_wins") === col("n_strata")) ||
            (col("overall_b_gt_a") && col("a_wins") === col("n_strata")), 1L)
            .otherwise(0L).as("paradox"))
        .orderBy("pair")
    }
  )

  // ---- DuckDB twins ----

  private val normSql = TextF.NormalizeTextSql

  val oracles: Map[String, String] = Map(
    "capture_recapture" ->
      s"""WITH fps AS (SELECT doc_id, md5($normSql) AS fp FROM documents),
         |stats AS (
         |  SELECT CAST(count(DISTINCT CASE WHEN doc_id % 3 = 0 THEN fp END) AS BIGINT) AS n_a,
         |    CAST(count(DISTINCT CASE WHEN doc_id % 5 = 0 THEN fp END) AS BIGINT) AS n_b,
         |    CAST(count(DISTINCT fp) AS BIGINT) AS true_distinct
         |  FROM fps),
         |ov AS (
         |  SELECT CAST(count(*) AS BIGINT) AS overlap FROM (
         |    SELECT fp FROM fps WHERE doc_id % 3 = 0
         |    INTERSECT
         |    SELECT fp FROM fps WHERE doc_id % 5 = 0) t)
         |SELECT n_a, n_b, overlap,
         |  CAST(n_a * n_b // greatest(overlap, 1) AS BIGINT) AS estimate,
         |  true_distinct,
         |  CAST((n_a * n_b // greatest(overlap, 1) - true_distinct) * 1000
         |    // true_distinct AS BIGINT) AS err_pm
         |FROM stats CROSS JOIN ov""".stripMargin,

    "survivorship_bias" ->
      s"""WITH o AS (
         |  SELECT o_custkey, o_orderkey,
         |    CAST(year(o_orderdate) * 10 + quarter(o_orderdate) AS BIGINT) AS qid,
         |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS day,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders),
         |surv AS (
         |  SELECT DISTINCT o_custkey, CAST(1 AS BIGINT) AS surv
         |  FROM o WHERE qid = (SELECT max(qid) FROM o)),
         |first AS (
         |  SELECT o_custkey, cents AS first_cents FROM (
         |    SELECT o_custkey, cents,
         |      row_number() OVER (PARTITION BY o_custkey ORDER BY day, o_orderkey) AS rn
         |    FROM o) t WHERE rn = 1)
         |SELECT CAST(coalesce(surv, 0) AS BIGINT) AS survived,
         |  CAST(count(*) AS BIGINT) AS n_customers,
         |  CAST(sum(first_cents) * 1000 // count(*) AS BIGINT) AS avg_first_milli
         |FROM first LEFT JOIN surv USING (o_custkey)
         |GROUP BY 1 ORDER BY survived""".stripMargin,

    "simpson_paradox_scan" -> Synth.withCte(
      s""", ev AS (
         |  SELECT platform_code AS p, (ts_us // $DayUs + 4) % 7 AS dow,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
         |  FROM raw),
         |overall AS (
         |  SELECT p, CAST(count(*) AS BIGINT) AS den, CAST(sum(conv) AS BIGINT) AS num
         |  FROM ev GROUP BY 1),
         |strata AS (
         |  SELECT p, dow, CAST(count(*) AS BIGINT) AS den, CAST(sum(conv) AS BIGINT) AS num
         |  FROM ev GROUP BY 1, 2),
         |op AS (
         |  SELECT a.p AS pa, b.p AS pb,
         |    a.num * b.den > b.num * a.den AS overall_a_gt_b,
         |    b.num * a.den > a.num * b.den AS overall_b_gt_a
         |  FROM overall a JOIN overall b ON a.p < b.p),
         |sp AS (
         |  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS n_strata,
         |    CAST(sum(CASE WHEN a.num * b.den > b.num * a.den THEN 1 ELSE 0 END) AS BIGINT) AS a_wins,
         |    CAST(sum(CASE WHEN b.num * a.den > a.num * b.den THEN 1 ELSE 0 END) AS BIGINT) AS b_wins
         |  FROM strata a JOIN strata b ON a.p < b.p AND a.dow = b.dow
         |  GROUP BY 1, 2)
         |SELECT concat(pa, '_vs_', pb) AS pair, n_strata, a_wins, b_wins,
         |  CAST(CASE WHEN (overall_a_gt_b AND b_wins = n_strata)
         |              OR (overall_b_gt_a AND a_wins = n_strata)
         |       THEN 1 ELSE 0 END AS BIGINT) AS paradox
         |FROM op JOIN sp USING (pa, pb)
         |ORDER BY pair""".stripMargin)
  )
}
