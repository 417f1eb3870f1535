package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-7 batch: per-source TF-IDF keyterms and the near-dup graph's
  * degree profile.
  *
  *  - `tfidf_topterms`: top-5 terms per source by integer TF-IDF. The idf
  *    factor is floor(log2(N/df)) computed as `length(bin(N div df)) - 1` —
  *    bit-length is exactly portable where `ln` is not, and keeps the whole
  *    score in exact integers. Shapes: one (source, term) count, one
  *    df count (distinct docs per term), broadcast term-stats join, one
  *    per-source top-k window — counts shuffle, text never does.
  *  - `dupgraph_degree`: degree histogram of the MinHash candidate graph
  *    (how many near-dup partners each doc has) including the degree-0
  *    mass — the graph-shape diagnostic that says whether dedup faces
  *    scattered pairs or dense boilerplate cliques (cliques make band
  *    collisions quadratic; the histogram is how you see them coming).
  */
object Queries23 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "tfidf_topterms" -> { (sp, dir) =>
      // the exploded token table feeds both the tf and the df aggregation —
      // cached (the Queries6 exploded-band precedent) so documents are
      // tokenized once
      val toks = graft.util.CacheScope.track(Tables.documents(sp, dir)
        .select(col("doc_id"), col("source"), explode(TextF.tokens(col("text"))).as("t")))
      val tf = toks.groupBy("source", "t").agg(count(lit(1)).as("tf"))
      val df = toks.groupBy("t").agg(count_distinct(col("doc_id")).as("df"))
      val n = Tables.documents(sp, dir).agg(count(lit(1)).as("n_docs"))
      val scored = tf
        .join(broadcast(df), Seq("t"))
        .crossJoin(broadcast(n))
        .withColumn("idf_bits", length(bin(expr("n_docs div df"))) - 1)
        .withColumn("score", col("tf") * col("idf_bits").cast("bigint"))
      val wTop = Window.partitionBy("source").orderBy(col("score").desc, col("t"))
      scored
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 5)
        .select(col("source"), col("rk"), col("t").as("term"),
          col("tf"), col("df"), col("score"))
        .orderBy("source", "rk")
    },

    "dupgraph_degree" -> { (sp, dir) =>
      // both endpoint projections scan the pair set — cache it or the LSH
      // self-join runs twice
      val pairs = graft.util.CacheScope.track(Queries6.minhashPairs(sp, dir))
      val deg = pairs.select(col("id_a").as("doc_id"))
        .unionAll(pairs.select(col("id_b").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("degree"))
      Tables.documents(sp, dir).select(col("doc_id"))
        .join(deg, Seq("doc_id"), "left")
        .select(coalesce(col("degree"), lit(0L)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_docs"))
        .orderBy("degree")
    }
  )

  val oracles: Map[String, String] = Map(
    "tfidf_topterms" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, unnest(${TextF.TokensSql}) AS t FROM documents
         |), tf AS (
         |  SELECT source, t, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY source, t
         |), df AS (
         |  SELECT t, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY t
         |), n AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
         |), scored AS (
         |  SELECT source, t, tf, df,
         |    tf * CAST(length(bin(n_docs // df)) - 1 AS BIGINT) AS score
         |  FROM tf JOIN df USING (t), n
         |), ranked AS (
         |  SELECT source, t, tf, df, score,
         |    row_number() OVER (PARTITION BY source ORDER BY score DESC, t) AS rk
         |  FROM scored
         |)
         |SELECT source, rk, t AS term, tf, df, score
         |FROM ranked WHERE rk <= 5 ORDER BY source, rk""".stripMargin,

    "dupgraph_degree" ->
      s"""WITH ${Queries6.MinhashPairsCteSql},
         |deg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM (
         |    SELECT id_a AS doc_id FROM pairs
         |    UNION ALL SELECT id_b FROM pairs
         |  ) u GROUP BY doc_id
         |)
         |SELECT coalesce(deg.degree, 0) AS degree, CAST(count(*) AS BIGINT) AS n_docs
         |FROM documents LEFT JOIN deg USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
