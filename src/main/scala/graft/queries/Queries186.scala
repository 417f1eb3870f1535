package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-14 batch #1 — nonparametric tests and effect sizes (the honest
  * companions to the r13 two_way_anova/mood_median_test family):
  *
  *  - `friedman_test`: Friedman rank test of "do the 10 platforms earn the
  *    same daily revenue?" — blocks = complete days (all 10 platforms
  *    present), within-block ranks via a deterministic (cents, platform)
  *    ordering, Q statistic in milli. The within-day window is a bounded
  *    10-row partition keyed by day, so it parallelizes by calendar, never
  *    by fact volume.
  *  - `mcnemar_test`: paired disagreement between two document filters
  *    (chars>400 vs tokens>80) — the right test when both classifiers see
  *    the SAME docs; discordant counts and the (b-c)^2/(b+c) statistic.
  *  - `cramers_v`: effect size of the lang × source association in the
  *    corpus — is language confounded with source? Phi-squared over the
  *    per-mille contingency (zero cells included via the dims' bounded
  *    cross), normalized by min(r-1, c-1). Everything after the one
  *    groupBy is bounded-domain arithmetic.
  *  - `cochran_q`: do three binary keep-filters (chars>300 / tokens>60 /
  *    lang='en') pass the same share of docs? Cochran's Q from per-doc
  *    row sums — one scan, one 1-row aggregate.
  */
object Queries186 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "friedman_test" -> { (sp, dir) =>
      val cells = Synth.withRaw(Tables.events(sp, dir))
        .select(expr(s"ts_us div $DayUs").as("day"), col("platform_code").as("p"),
          col("amount_cents"))
        .groupBy("day", "p").agg(sum("amount_cents").as("cents"))
      // Friedman needs complete blocks: keep days where all 10 platforms
      // traded (bounded 10-row window partitions, parallel across days)
      val ranked = cells
        .withColumn("k", count(lit(1)).over(Window.partitionBy("day")))
        .filter(col("k") === 10)
        .withColumn("rk", row_number().over(
          Window.partitionBy("day").orderBy("cents", "p")))
      val byP = ranked.groupBy("p")
        .agg(count(lit(1)).as("n_days"), sum("rk").as("rank_sum"))
      val summ = byP.agg(sum(expr("rank_sum * rank_sum")).as("ssq"),
        max("n_days").as("n"))
      byP.crossJoin(broadcast(summ))
        .select(col("p"), col("n_days"), col("rank_sum"),
          expr("rank_sum * 1000 div n_days").as("mean_rank_milli"),
          expr("12000 * ssq div (n * 10 * 11) - 3000 * n * 11").as("q_milli"))
        .orderBy("p")
    },

    "mcnemar_test" -> { (sp, dir) =>
      Tables.documents(sp, dir)
        .select(when(col("n_chars") > 400, 1L).otherwise(0L).as("a"),
          when(TextF.tokenCount(col("text")) > 80, 1L).otherwise(0L).as("b"))
        .agg(count(lit(1)).as("n_docs"),
          sum("a").as("a_pos"), sum("b").as("b_pos"),
          sum(expr("CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END")).as("ab_disc"),
          sum(expr("CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END")).as("ba_disc"))
        .select(col("n_docs"), col("a_pos"), col("b_pos"), col("ab_disc"), col("ba_disc"),
          expr("""CASE WHEN ab_disc + ba_disc = 0 THEN 0
                  ELSE (ab_disc - ba_disc) * (ab_disc - ba_disc) * 1000
                       div (ab_disc + ba_disc) END""").as("chi2_milli"))
    },

    "cramers_v" -> { (sp, dir) =>
      val docs = Tables.documents(sp, dir).select("lang", "source")
      val cells = graft.util.CacheScope.track(
        docs.groupBy("lang", "source").agg(count(lit(1)).as("o")))
      val rows = cells.groupBy("lang").agg(sum("o").as("r"))
      val cols = cells.groupBy("source").agg(sum("o").as("c"))
      val tot = cells.agg(sum("o").as("n"),
        countDistinct("lang").as("nr"), countDistinct("source").as("nc"))
      // full grid INCLUDING zero cells (chi-square counts their E term):
      // dims are bounded, so the cross + left join stays broadcast-sized
      rows.crossJoin(broadcast(cols))
        .join(cells, Seq("lang", "source"), "left")
        .crossJoin(broadcast(tot))
        .select(col("n"), col("nr"), col("nc"),
          expr("coalesce(o, 0) * 1000 div n").as("o_pm"),
          expr("r * 1000 div n").as("r_pm"),
          expr("c * 1000 div n").as("c_pm"))
        .agg(max("n").as("n_docs"), max("nr").as("n_langs"), max("nc").as("n_sources"),
          sum(expr("""(1000 * o_pm - r_pm * c_pm) * (1000 * o_pm - r_pm * c_pm)
                      div (1000 * greatest(r_pm * c_pm, 1))""")).as("phi2_milli"))
        .select(col("n_docs"), col("n_langs"), col("n_sources"), col("phi2_milli"),
          expr("phi2_milli div greatest(least(n_langs - 1, n_sources - 1), 1)")
            .as("v_sq_milli"))
    },

    "cochran_q" -> { (sp, dir) =>
      Tables.documents(sp, dir)
        .select(when(col("n_chars") > 300, 1L).otherwise(0L).as("t1"),
          when(TextF.tokenCount(col("text")) > 60, 1L).otherwise(0L).as("t2"),
          when(col("lang") === "en", 1L).otherwise(0L).as("t3"))
        .withColumn("rsum", expr("t1 + t2 + t3"))
        .agg(count(lit(1)).as("n_docs"),
          sum("t1").as("c1"), sum("t2").as("c2"), sum("t3").as("c3"),
          sum("rsum").as("s"), sum(expr("rsum * rsum")).as("ssr"))
        .select(col("n_docs"), col("c1"), col("c2"), col("c3"),
          expr("""CASE WHEN 3 * s - ssr = 0 THEN 0
                  ELSE 2000 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - s * s)
                       div (3 * s - ssr) END""").as("q_milli"))
    }
  )

  // ---- DuckDB twins ----

  private val normSql = TextF.NormalizeTextSql
  private val tokCntSql =
    s"CASE WHEN $normSql = '' THEN 0 ELSE len(string_split($normSql, ' ')) END"

  val oracles: Map[String, String] = Map(
    "friedman_test" -> Synth.withCte(
      s""", cells AS (
         |  SELECT ts_us // $DayUs AS day, platform_code AS p,
         |    CAST(sum(amount_cents) AS BIGINT) AS cents
         |  FROM raw GROUP BY 1, 2),
         |ranked AS (
         |  SELECT day, p, cents,
         |    row_number() OVER (PARTITION BY day ORDER BY cents, p) AS rk
         |  FROM (SELECT *, count(*) OVER (PARTITION BY day) AS k FROM cells) t
         |  WHERE k = 10),
         |byp AS (
         |  SELECT p, CAST(count(*) AS BIGINT) AS n_days,
         |    CAST(sum(rk) AS BIGINT) AS rank_sum
         |  FROM ranked GROUP BY 1),
         |summ AS (
         |  SELECT CAST(sum(rank_sum * rank_sum) AS BIGINT) AS ssq,
         |    CAST(max(n_days) AS BIGINT) AS n FROM byp)
         |SELECT p, n_days, rank_sum,
         |  CAST(rank_sum * 1000 // n_days AS BIGINT) AS mean_rank_milli,
         |  CAST(12000 * ssq // (n * 10 * 11) - 3000 * n * 11 AS BIGINT) AS q_milli
         |FROM byp CROSS JOIN summ ORDER BY p""".stripMargin),

    "mcnemar_test" ->
      s"""WITH cls AS (
         |  SELECT CASE WHEN n_chars > 400 THEN 1 ELSE 0 END AS a,
         |    CASE WHEN ($tokCntSql) > 80 THEN 1 ELSE 0 END AS b
         |  FROM documents)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(a) AS BIGINT) AS a_pos, CAST(sum(b) AS BIGINT) AS b_pos,
         |  CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ab_disc,
         |  CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ba_disc,
         |  CAST(CASE WHEN sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
         |              + sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) = 0 THEN 0
         |    ELSE (sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
         |          - sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END))
         |       * (sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
         |          - sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)) * 1000
         |       // (sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
         |           + sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END))
         |    END AS BIGINT) AS chi2_milli
         |FROM cls""".stripMargin,

    "cramers_v" ->
      s"""WITH cells AS (
         |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
         |  FROM documents GROUP BY 1, 2),
         |r AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
         |c AS (SELECT source, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
         |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS nr,
         |  CAST(count(DISTINCT source) AS BIGINT) AS nc FROM cells),
         |grid AS (
         |  SELECT n, nr, nc,
         |    coalesce(o, 0) * 1000 // n AS o_pm,
         |    r.r * 1000 // n AS r_pm, c.c * 1000 // n AS c_pm
         |  FROM r CROSS JOIN c
         |  LEFT JOIN cells USING (lang, source)
         |  CROSS JOIN tot),
         |agg AS (
         |  SELECT CAST(max(n) AS BIGINT) AS n_docs, CAST(max(nr) AS BIGINT) AS n_langs,
         |    CAST(max(nc) AS BIGINT) AS n_sources,
         |    CAST(sum((1000 * o_pm - r_pm * c_pm) * (1000 * o_pm - r_pm * c_pm)
         |      // (1000 * greatest(r_pm * c_pm, 1))) AS BIGINT) AS phi2_milli
         |  FROM grid)
         |SELECT n_docs, n_langs, n_sources, phi2_milli,
         |  CAST(phi2_milli // greatest(least(n_langs - 1, n_sources - 1), 1) AS BIGINT)
         |    AS v_sq_milli
         |FROM agg""".stripMargin,

    "cochran_q" ->
      s"""WITH cls AS (
         |  SELECT CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS t1,
         |    CASE WHEN ($tokCntSql) > 60 THEN 1 ELSE 0 END AS t2,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS t3
         |  FROM documents),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(t1) AS BIGINT) AS c1, CAST(sum(t2) AS BIGINT) AS c2,
         |    CAST(sum(t3) AS BIGINT) AS c3,
         |    CAST(sum(t1 + t2 + t3) AS BIGINT) AS s,
         |    CAST(sum((t1 + t2 + t3) * (t1 + t2 + t3)) AS BIGINT) AS ssr
         |  FROM cls)
         |SELECT n_docs, c1, c2, c3,
         |  CAST(CASE WHEN 3 * s - ssr = 0 THEN 0
         |    ELSE 2000 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - s * s) // (3 * s - ssr)
         |    END AS BIGINT) AS q_milli
         |FROM agg""".stripMargin
  )
}
