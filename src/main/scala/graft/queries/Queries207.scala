package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-15 batch #8 — arrival uniformity, joint-extreme dependence,
  * corpus marginal value, and dup-graph inequality:
  *
  *  - `intramonth_uniformity`: per month, the KS-style max |ECDF −
  *    uniform| (permille) of order arrivals over the days of that month —
  *    flags batch-loaded or end-loaded months whose "daily" metrics are
  *    an artifact of arrival clumping. Integer cross-product form
  *    (|cum·days − day·n| max), calendar-bounded windows.
  *  - `tail_dependence_screen`: do large orders and wide orders co-occur
  *    beyond independence? Top-decile membership on BOTH margins (value
  *    deciles from the bounded dollar histogram, width deciles from the
  *    small line-count domain) vs the 1% independence baseline, as an
  *    exact per-mille lift. The copula-tail read a correlation coefficient
  *    misses.
  *  - `corpus_novelty_curve`: the marginal-value-of-data curve — corpus
  *    split into 5 cumulative doc_id prefixes; per prefix, distinct
  *    16-bit SimHash sketch values whose FIRST occurrence lands in that
  *    prefix (one pass: fp → min doc_id → prefix bucket), i.e. how much
  *    sketch-level novelty each additional data slice buys before
  *    scaling the corpus further.
  *  - `dupgraph_degree_gini`: Gini concentration of the MinHash candidate
  *    graph's degree distribution via the grouped Lorenz formula on the
  *    bounded degree histogram — a high Gini says a few hub documents
  *    drive most candidate pairs (the skew the df-caps exist to bound).
  */
object Queries207 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "intramonth_uniformity" -> { (sp, dir) =>
      val daily = Tables.orders(sp, dir)
        .select(expr("year(o_orderdate) * 100 + month(o_orderdate)").as("ym"),
          dayofmonth(col("o_orderdate")).cast("bigint").as("dom"))
        .groupBy("ym", "dom").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("ym").orderBy("dom")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("cum", sum("cnt").over(w))
        .withColumn("n", sum("cnt").over(Window.partitionBy("ym")))
        .withColumn("days", max("dom").over(Window.partitionBy("ym")))
        .groupBy("ym")
        .agg(max("n").as("n_orders"),
          max(abs(col("cum") * col("days") - col("dom") * col("n"))).as("d_num"),
          max(col("days")).as("days"))
        .select(col("ym"), col("n_orders"),
          expr("d_num * 1000 div (n_orders * days)").as("d_permille"))
        .orderBy("ym")
    },

    "tail_dependence_screen" -> { (sp, dir) =>
      val width = Tables.lineitem(sp, dir)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("wd"))
      val base = Tables.orders(sp, dir)
        .select(col("o_orderkey"), expr("CAST(round(o_totalprice) AS BIGINT)").as("v"))
        .join(width, col("o_orderkey") === width("l_orderkey"))
      // top-decile cutoffs from bounded histograms: smallest value whose
      // upper tail (self + above = n − cum_before) still holds ≥ 10% of
      // rows. Spelled via the PRECEDING cumsum — an UNBOUNDED-FOLLOWING
      // running frame re-scans to partition end per row (O(rows²); the ×10
      // probe read 244 s before this rewrite), while the preceding frame
      // is one O(rows) pass with identical cutoffs.
      def cutoff(df: DataFrame, c: String): DataFrame = {
        val h = df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        h.withColumn("cumb", coalesce(sum("cnt").over(
            Window.orderBy(col(c)).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("n", sum("cnt").over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .filter((col("n") - col("cumb")) * 10 >= col("n"))
          .agg(max(col(c)).as("cut"))
      }
      val vcut = cutoff(base, "v").withColumnRenamed("cut", "vcut")
      val wcut = cutoff(base, "wd").withColumnRenamed("cut", "wcut")
      base.crossJoin(broadcast(vcut)).crossJoin(broadcast(wcut))
        .agg(count(lit(1)).as("n"),
          sum(when(col("v") >= col("vcut"), 1L).otherwise(0L)).as("n_top_v"),
          sum(when(col("wd") >= col("wcut"), 1L).otherwise(0L)).as("n_top_w"),
          sum(when(col("v") >= col("vcut") && col("wd") >= col("wcut"), 1L).otherwise(0L))
            .as("n_both"))
        .select(col("n"), col("n_top_v"), col("n_top_w"), col("n_both"),
          expr("n_both * 1000000 div n").as("both_ppm"),
          // lift vs independence: n_both·n / (n_top_v·n_top_w), in milli
          expr("n_both * n * 1000 div (n_top_v * n_top_w)").as("lift_milli"))
    },

    "corpus_novelty_curve" -> { (sp, dir) =>
      val mx = Tables.documents(sp, dir).agg(max("doc_id").as("mx"))
      val firsts = Tables.documents(sp, dir)
        .select(col("doc_id"), TextF.simhash16(col("text")).as("fp"))
        .groupBy("fp").agg(min("doc_id").as("first_doc"))
        .crossJoin(broadcast(mx))
        .select(least(expr("first_doc * 5 div (mx + 1)"), lit(4L)).as("prefix"))
        .groupBy("prefix").agg(count(lit(1)).as("new_fps"))
      val docs = Tables.documents(sp, dir)
        .crossJoin(broadcast(mx))
        .select(least(expr("doc_id * 5 div (mx + 1)"), lit(4L)).as("prefix"))
        .groupBy("prefix").agg(count(lit(1)).as("n_docs"))
      docs.join(firsts, Seq("prefix"), "left")
        .select(col("prefix"), col("n_docs"),
          coalesce(col("new_fps"), lit(0L)).as("new_fps"),
          expr("coalesce(new_fps, 0) * 1000 div n_docs").as("novelty_pm"))
        .orderBy("prefix")
    },

    "dupgraph_degree_gini" -> { (sp, dir) =>
      val p = Queries6.minhashPairs(sp, dir)
      val deg = p.select(col("id_a").as("id")).unionAll(p.select(col("id_b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
        .groupBy("d").agg(count(lit(1)).as("cnt")) // bounded degree histogram
      val withCum = deg.withColumn("cumb", coalesce(sum("cnt").over(
        Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      withCum.agg(sum("cnt").as("n"),
          sum(col("d") * col("cnt")).as("sumd"),
          sum(col("d") * col("cnt") * (col("cumb") * 2 + col("cnt") + 1)).as("numer2"))
        .select(col("n"), col("sumd"),
          (expr("numer2 * 1000000 div (n * sumd)") -
            expr("(n + 1) * 1000000 div n")).as("gini_micro"))
    }
  )

  val oracles: Map[String, String] = Map(
    "intramonth_uniformity" ->
      """WITH daily AS (
        |  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
        |    CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1, 2
        |), cum AS (
        |  SELECT ym, dom, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY ym ORDER BY dom
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY ym) AS BIGINT) AS n,
        |    CAST(max(dom) OVER (PARTITION BY ym) AS BIGINT) AS days
        |  FROM daily
        |)
        |SELECT ym, max(n) AS n_orders,
        |  CAST(max(abs(cum * days - dom * n)) * 1000 // (max(n) * max(days)) AS BIGINT)
        |    AS d_permille
        |FROM cum GROUP BY ym ORDER BY ym""".stripMargin,

    "tail_dependence_screen" ->
      """WITH base AS (
        |  SELECT o_orderkey, CAST(round(o_totalprice) AS BIGINT) AS v, wd
        |  FROM orders JOIN (
        |    SELECT l_orderkey, CAST(count(*) AS BIGINT) AS wd FROM lineitem GROUP BY 1
        |  ) w ON o_orderkey = l_orderkey
        |), vcut AS (
        |  SELECT max(v) AS vcut FROM (
        |    SELECT v,
        |      CAST(coalesce(sum(count(*)) OVER (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb,
        |      CAST(sum(count(*)) OVER () AS BIGINT) AS n
        |    FROM base GROUP BY v) t
        |  WHERE (n - cumb) * 10 >= n
        |), wcut AS (
        |  SELECT max(wd) AS wcut FROM (
        |    SELECT wd,
        |      CAST(coalesce(sum(count(*)) OVER (ORDER BY wd
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb,
        |      CAST(sum(count(*)) OVER () AS BIGINT) AS n
        |    FROM base GROUP BY wd) t
        |  WHERE (n - cumb) * 10 >= n
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN v >= vcut THEN 1 ELSE 0 END) AS BIGINT) AS n_top_v,
        |  CAST(sum(CASE WHEN wd >= wcut THEN 1 ELSE 0 END) AS BIGINT) AS n_top_w,
        |  CAST(sum(CASE WHEN v >= vcut AND wd >= wcut THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(sum(CASE WHEN v >= vcut AND wd >= wcut THEN 1 ELSE 0 END) * 1000000
        |       // count(*) AS BIGINT) AS both_ppm,
        |  CAST(sum(CASE WHEN v >= vcut AND wd >= wcut THEN 1 ELSE 0 END) * count(*) * 1000
        |       // (sum(CASE WHEN v >= vcut THEN 1 ELSE 0 END)
        |           * sum(CASE WHEN wd >= wcut THEN 1 ELSE 0 END)) AS BIGINT) AS lift_milli
        |FROM base, vcut, wcut""".stripMargin,

    "corpus_novelty_curve" -> {
      s"""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
         |fpp AS (
         |  SELECT prefix, CAST(sum(new_fps) AS BIGINT) AS new_fps FROM (
         |    SELECT least(first_doc * 5 // (mx + 1), 4) AS prefix, 1 AS new_fps
         |    FROM (SELECT fp, min(doc_id) AS first_doc
         |          FROM (SELECT doc_id,
         |                  ${LlmQueries.Simhash16FromValsSql.replace("vals", "v16")} AS fp
         |                FROM (SELECT doc_id, ${LlmQueries.Simhash16ValsSql} AS v16
         |                      FROM documents) t0) t1
         |          GROUP BY fp) f, mx) t2
         |  GROUP BY prefix
         |), dd AS (
         |  SELECT least(doc_id * 5 // (mx + 1), 4) AS prefix,
         |    CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents, mx GROUP BY 1
         |)
         |SELECT dd.prefix, n_docs, coalesce(fpp.new_fps, 0) AS new_fps,
         |  CAST(coalesce(fpp.new_fps, 0) * 1000 // n_docs AS BIGINT) AS novelty_pm
         |FROM dd LEFT JOIN fpp ON dd.prefix = fpp.prefix
         |ORDER BY dd.prefix""".stripMargin
    },

    "dupgraph_degree_gini" ->
      s"""WITH ${Queries6.MinhashPairsCteSql},
         |deg AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs
         |  ) u GROUP BY id
         |), hist AS (
         |  SELECT d, CAST(count(*) AS BIGINT) AS cnt FROM deg GROUP BY d
         |), cum AS (
         |  SELECT d, cnt,
         |    CAST(coalesce(sum(cnt) OVER (ORDER BY d
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb
         |  FROM hist
         |)
         |SELECT CAST(sum(cnt) AS BIGINT) AS n,
         |  CAST(sum(d * cnt) AS BIGINT) AS sumd,
         |  CAST(CAST(sum(d * cnt * (cumb * 2 + cnt + 1)) AS BIGINT) * 1000000
         |         // (CAST(sum(cnt) AS BIGINT) * CAST(sum(d * cnt) AS BIGINT))
         |       - (CAST(sum(cnt) AS BIGINT) + 1) * 1000000 // CAST(sum(cnt) AS BIGINT)
         |       AS BIGINT) AS gini_micro
         |FROM cum""".stripMargin
  )
}
