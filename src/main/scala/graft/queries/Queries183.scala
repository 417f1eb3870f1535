package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-13 batch #6 — temporal concentration reads and corpus calibration
  * planners:
  *
  *  - `month_end_effect`: revenue share landing in the last 3 calendar
  *    days of each month (quota-chasing / batch-posting detection) —
  *    `last_day` anchored so 28/30/31-day months all read correctly; one
  *    scan, |months| rows.
  *  - `concentration_trend`: top-decile customer revenue share per
  *    quarter — is concentration rising? Exact rank cut over the
  *    (quarter, customer) rollup (length_concentration's pattern,
  *    partitioned by quarter).
  *  - `negative_sampling_plan`: word2vec-style unigram^(3/4) negative-
  *    sampling table for the top-20 tokens — the ¾ power computed as the
  *    EXACT integer nest isqrt(n · isqrt(n)) (float sqrt ± correction at
  *    each level, engine-agreement safe), sampling ppm vs the raw-count
  *    ppm it flattens.
  *  - `langid_threshold_sweep`: text_langid's calibration twin — accuracy
  *    of the stopword-ratio gate against the labeled `lang` column at
  *    thresholds {0.04, 0.08, 0.16}, compared EXACTLY by
  *    cross-multiplication (hits·1000 ≥ t_milli·n); picks the operating
  *    point before anyone ships a filter.
  *  - `rare_token_exposure`: share of docs per source touching the
  *    bottom-quartile-df vocabulary (rare-token exposure — where the
  *    vocabulary tail actually lives); df rollup → bounded rare set →
  *    one semi-join.
  */
object Queries183 extends QuerySet {
  private val LangThresholdsMilli = Seq(40L, 80L, 160L)

  /** Exact integer sqrt (Queries179's idiom). */
  private def isqrt(n: String): String = {
    val s0 = s"CAST(floor(sqrt(CAST($n AS DOUBLE))) AS BIGINT)"
    s"($s0 + (CASE WHEN (($s0) + 1) * (($s0) + 1) <= $n THEN 1 ELSE 0 END)" +
      s" - (CASE WHEN ($s0) * ($s0) > $n THEN 1 ELSE 0 END))"
  }

  val defs: Map[String, Q] = Map(
    "month_end_effect" -> { (sp, dir) =>
      Tables.orders(sp, dir)
        .select(expr("CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)").as("month_id"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"),
          (dayofmonth(col("o_orderdate")) >
            dayofmonth(last_day(col("o_orderdate"))) - 3).as("tail3"))
        .groupBy("month_id")
        .agg(sum("cents").as("rev_cents"),
          sum(when(col("tail3"), col("cents")).otherwise(0L)).as("tail3_cents"))
        .withColumn("tail3_pm", expr("tail3_cents * 1000 div rev_cents"))
        .orderBy("month_id")
    },

    "concentration_trend" -> { (sp, dir) =>
      val perCust = Tables.orders(sp, dir)
        .groupBy(expr("CAST(year(o_orderdate) * 10 + quarter(o_orderdate) AS BIGINT)").as("quarter"),
          col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev"))
      perCust
        .withColumn("rk", row_number().over(
          Window.partitionBy("quarter").orderBy(col("rev").desc, col("o_custkey"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("quarter")))
        .groupBy("quarter")
        .agg(count(lit(1)).as("n_customers"), sum("rev").as("rev_cents"),
          sum(when(col("rk") * 10 <= col("n"), col("rev")).otherwise(0L)).as("top_decile_cents"))
        .withColumn("top_decile_pm",
          expr("top_decile_cents * 1000 div greatest(rev_cents, 1)"))
        .select("quarter", "n_customers", "top_decile_pm")
        .orderBy("quarter")
    },

    "negative_sampling_plan" -> { (sp, dir) =>
      val counts = Tables.documents(sp, dir)
        .select(explode(TextF.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("n"))
      val tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      counts
        .withColumn("w", expr(isqrt(s"(n * ${isqrt("n")})")))
        .withColumn("t1_tot", sum("n").over(tot)) // vocab-domain window
        .withColumn("w_tot", sum("w").over(tot))
        .withColumn("rk", row_number().over(Window.orderBy(col("n").desc, col("tok"))))
        .filter(col("rk") <= 20)
        .select(col("tok"), col("n"),
          expr("n * 1000000 div t1_tot").as("raw_ppm"),
          expr("w * 1000000 div w_tot").as("sample_ppm"))
        .orderBy(col("n").desc, col("tok"))
    },

    "langid_threshold_sweep" -> { (sp, dir) =>
      import sp.implicits._
      val toks = TextF.tokens(col("text"))
      val hits = size(filter(toks, t => t.isin(TextF.Stopwords: _*))).cast("long")
      val docs = Tables.documents(sp, dir)
        .select(col("lang"), TextF.tokenCount(col("text")).cast("long").as("n"),
          hits.as("hits"))
      docs.crossJoin(broadcast(LangThresholdsMilli.toDF("t_milli")))
        .withColumn("guess_en", expr("n > 0 AND hits * 1000 >= t_milli * n"))
        .groupBy("t_milli")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("guess_en"), 1L).otherwise(0L)).as("n_guess_en"),
          sum(when((col("guess_en") && col("lang") === "en") ||
            (!col("guess_en") && col("lang") =!= "en"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("accuracy_pm", expr("n_correct * 1000 div n_docs"))
        .orderBy("t_milli")
    },

    "rare_token_exposure" -> { (sp, dir) =>
      val docToks = graft.util.CacheScope.track(
        Tables.documents(sp, dir)
          .select(col("source"), col("doc_id"),
            explode(array_distinct(TextF.tokens(col("text")))).as("tok"))
          .filter(col("tok") =!= ""))
      val df = docToks.groupBy("tok").agg(count(lit(1)).as("df"))
      val rare = df
        .withColumn("rk", row_number().over(Window.orderBy(col("df"), col("tok"))))
        .withColumn("n_types", count(lit(1)).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .filter(expr("rk * 4 <= n_types"))
        .select("tok")
      val exposed = docToks.join(broadcast(rare), Seq("tok"), "left_semi")
        .select("source", "doc_id").distinct()
        .groupBy("source").agg(count(lit(1)).as("docs_with_rare"))
      Tables.documents(sp, dir).groupBy("source").agg(count(lit(1)).as("n_docs"))
        .join(exposed, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("docs_with_rare"), lit(0L)).as("docs_with_rare"))
        .withColumn("exposure_pm", expr("docs_with_rare * 1000 div n_docs"))
        .orderBy("source")
    }
  )

  // ---- DuckDB twins ----

  private val toksSql = TextF.TokensSql
  private val stopList = TextF.Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  val oracles: Map[String, String] = Map(
    "month_end_effect" ->
      """SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS month_id,
        |  CAST(sum(cents) AS BIGINT) AS rev_cents,
        |  CAST(sum(CASE WHEN tail3 THEN cents ELSE 0 END) AS BIGINT) AS tail3_cents,
        |  CAST(sum(CASE WHEN tail3 THEN cents ELSE 0 END) * 1000
        |    // sum(cents) AS BIGINT) AS tail3_pm
        |FROM (
        |  SELECT o_orderdate, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    day(o_orderdate) > day(last_day(o_orderdate)) - 3 AS tail3
        |  FROM orders) t
        |GROUP BY 1 ORDER BY month_id""".stripMargin,

    "concentration_trend" ->
      """WITH per_cust AS (
        |  SELECT CAST(year(o_orderdate) * 10 + quarter(o_orderdate) AS BIGINT) AS quarter,
        |    o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1, 2),
        |ranked AS (
        |  SELECT quarter, rev,
        |    row_number() OVER (PARTITION BY quarter ORDER BY rev DESC, o_custkey) AS rk,
        |    count(*) OVER (PARTITION BY quarter) AS n
        |  FROM per_cust)
        |SELECT quarter, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(CASE WHEN rk * 10 <= n THEN rev ELSE 0 END) * 1000
        |    // greatest(sum(rev), 1) AS BIGINT) AS top_decile_pm
        |FROM ranked GROUP BY quarter ORDER BY quarter""".stripMargin,

    "negative_sampling_plan" -> {
      val w = isqrt(s"(n * ${isqrt("n")})")
      s"""WITH counts AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT unnest($toksSql) AS tok FROM documents) t
         |  WHERE tok <> '' GROUP BY 1),
         |w AS (
         |  SELECT tok, n, $w AS w,
         |    CAST(sum(n) OVER () AS BIGINT) AS t1_tot,
         |    CAST(sum($w) OVER () AS BIGINT) AS w_tot,
         |    row_number() OVER (ORDER BY n DESC, tok) AS rk
         |  FROM counts)
         |SELECT tok, n,
         |  CAST(n * 1000000 // t1_tot AS BIGINT) AS raw_ppm,
         |  CAST(w * 1000000 // w_tot AS BIGINT) AS sample_ppm
         |FROM w WHERE rk <= 20 ORDER BY n DESC, tok""".stripMargin
    },

    "langid_threshold_sweep" ->
      s"""WITH docs AS (
         |  SELECT lang,
         |    CASE WHEN ${TextF.NormalizeTextSql} = '' THEN 0
         |         ELSE CAST(len($toksSql) AS BIGINT) END AS n,
         |    CAST(len(list_filter($toksSql, t -> list_contains($stopList, t))) AS BIGINT) AS hits
         |  FROM documents),
         |th AS (SELECT CAST(unnest([${LangThresholdsMilli.mkString(", ")}]) AS BIGINT) AS t_milli),
         |j AS (
         |  SELECT t_milli, lang, (n > 0 AND hits * 1000 >= t_milli * n) AS guess_en
         |  FROM docs CROSS JOIN th)
         |SELECT t_milli, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN guess_en THEN 1 ELSE 0 END) AS BIGINT) AS n_guess_en,
         |  CAST(sum(CASE WHEN (guess_en AND lang = 'en') OR (NOT guess_en AND lang <> 'en')
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  CAST(sum(CASE WHEN (guess_en AND lang = 'en') OR (NOT guess_en AND lang <> 'en')
         |           THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT) AS accuracy_pm
         |FROM j GROUP BY 1 ORDER BY t_milli""".stripMargin,

    "rare_token_exposure" ->
      s"""WITH doc_toks AS (
         |  SELECT source, doc_id, tok
         |  FROM (SELECT source, doc_id, unnest(list_distinct($toksSql)) AS tok
         |        FROM documents) t
         |  WHERE tok <> ''),
         |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM doc_toks GROUP BY 1),
         |rare AS (
         |  SELECT tok FROM (
         |    SELECT tok, row_number() OVER (ORDER BY df, tok) AS rk,
         |           count(*) OVER () AS n_types
         |    FROM df) r
         |  WHERE rk * 4 <= n_types),
         |exposed AS (
         |  SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS docs_with_rare
         |  FROM doc_toks SEMI JOIN rare USING (tok)
         |  GROUP BY 1),
         |per_src AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1)
         |SELECT source, n_docs,
         |  CAST(coalesce(docs_with_rare, 0) AS BIGINT) AS docs_with_rare,
         |  CAST(coalesce(docs_with_rare, 0) * 1000 // n_docs AS BIGINT) AS exposure_pm
         |FROM per_src LEFT JOIN exposed USING (source)
         |ORDER BY source""".stripMargin
  )
}
