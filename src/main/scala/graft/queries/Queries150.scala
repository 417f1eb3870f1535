package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-9 batch #70 — `ndcg_eval`: ranking-quality evaluation of the
  * BM25 retriever. Graded relevance is model-independent — the number
  * of DISTINCT query terms a document contains — so the metric judges
  * the ranker against something it does not itself compute. DCG uses
  * the standard 1/log₂(rank+1) discounts as FIXED milli literals
  * (1000, 631, 500, 431, 387 for ranks 1-5 — no runtime log), IDCG
  * re-ranks the whole corpus by relevance (distributed rank window per
  * query over the broadcast-filtered match set), and nDCG = DCG/IDCG
  * in exact milli. The eval every retrieval change (ann_*, bm25
  * parameters, dedup of the corpus) gets judged by. */
object Queries150 extends QuerySet {
  /** round(1000 / log2(rk + 1)) for rk = 1..5. */
  private val W = Seq(1000L, 631L, 500L, 431L, 387L)

  val defs: Map[String, Q] = Map(
    "ndcg_eval" -> { (sp, dir) =>
      import sp.implicits._
      val qterms = broadcast(Queries25.QuerySet
        .flatMap { case (q, s) => s.split(" ").map(t => (q, t)) }.toDF("q_id", "t"))
      // graded relevance: distinct query terms present in the doc
      val rel = Tables.documents(sp, dir)
        .select(col("doc_id"), explode(array_distinct(TextF.tokens(col("text")))).as("t"))
        .join(qterms, Seq("t"))
        .groupBy("q_id", "doc_id").agg(count(lit(1)).as("rel"))
      val relC = graft.util.CacheScope.track(rel)
      val wExpr = (rk: String) => s"CASE $rk ${W.zipWithIndex.map { case (w, i) =>
        s"WHEN ${i + 1} THEN $w" }.mkString(" ")} ELSE 0 END"
      val dcg = Queries25.defs("bm25_topk")(sp, dir)
        .join(relC, Seq("q_id", "doc_id"), "left")
        .withColumn("g", coalesce(col("rel"), lit(0L)))
        .groupBy("q_id")
        .agg(sum(expr(s"g * ${wExpr("rk")}")).as("dcg_milli"))
      val wIdeal = Window.partitionBy("q_id").orderBy(col("rel").desc, col("doc_id"))
      val idcg = relC
        .withColumn("rk", row_number().over(wIdeal))
        .filter(col("rk") <= W.length)
        .groupBy("q_id")
        .agg(sum(expr(s"rel * ${wExpr("rk")}")).as("idcg_milli"))
      dcg.join(idcg, Seq("q_id"), "left")
        .select(col("q_id"), col("dcg_milli"),
          coalesce(col("idcg_milli"), lit(0L)).as("idcg_milli"),
          expr("CASE WHEN idcg_milli IS NULL OR idcg_milli = 0 THEN 0 " +
            "ELSE dcg_milli * 1000 div idcg_milli END").as("ndcg_milli"))
        .orderBy("q_id")
    }
  )

  val oracles: Map[String, String] = {
    val toks = TextF.TokensSql
    val qvals = Queries25.QuerySet
      .flatMap { case (q, s) => s.split(" ").map(t => s"('$q', '$t')") }.mkString(", ")
    val wCase = (rk: String) => s"CASE $rk ${W.zipWithIndex.map { case (w, i) =>
      s"WHEN ${i + 1} THEN $w" }.mkString(" ")} ELSE 0 END"
    Map(
      "ndcg_eval" ->
        s"""WITH qt(q_id, t) AS (VALUES $qvals),
           |rel AS (
           |  SELECT qt.q_id, d.doc_id, CAST(count(*) AS BIGINT) AS rel
           |  FROM (SELECT doc_id, unnest(list_distinct($toks)) AS t FROM documents) d
           |  JOIN qt ON qt.t = d.t
           |  GROUP BY 1, 2
           |),
           |bm AS (SELECT * FROM (${Queries25.oracles("bm25_topk")}) z),
           |dcg AS (
           |  SELECT bm.q_id,
           |    CAST(sum(coalesce(rel.rel, 0) * ${wCase("bm.rk")}) AS BIGINT) AS dcg_milli
           |  FROM bm LEFT JOIN rel ON rel.q_id = bm.q_id AND rel.doc_id = bm.doc_id
           |  GROUP BY bm.q_id
           |),
           |ideal AS (
           |  SELECT q_id,
           |    CAST(sum(rel * ${wCase("rk")}) AS BIGINT) AS idcg_milli
           |  FROM (
           |    SELECT q_id, rel,
           |      row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, doc_id) AS rk
           |    FROM rel) t
           |  WHERE rk <= ${W.length}
           |  GROUP BY q_id
           |)
           |SELECT d.q_id, d.dcg_milli, coalesce(i.idcg_milli, 0) AS idcg_milli,
           |  CAST(CASE WHEN coalesce(i.idcg_milli, 0) = 0 THEN 0
           |       ELSE d.dcg_milli * 1000 // i.idcg_milli END AS BIGINT) AS ndcg_milli
           |FROM dcg d LEFT JOIN ideal i ON i.q_id = d.q_id
           |ORDER BY d.q_id""".stripMargin
    )
  }
}
