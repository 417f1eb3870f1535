package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-8 continuation #10 — `filter_funnel`: the stage-by-stage attrition
  * report of the corpus gate chain (the table every dataset paper ships:
  * "started with N, exact-dedup removed X, language Y, …"). Each document
  * is attributed to the FIRST stage that drops it, in the same stage order
  * `corpusGated` + decontamination apply, with the same rule spellings —
  * so the funnel's survivor count provably equals `corpus_pipeline`'s
  * pre-near-dup universe.
  *
  * Shape: ONE scan computes every gate flag per doc (the contamination
  * flag is a broadcast-fed left join, same as decontaminate), a first-fail
  * CASE collapses them, and the funnel itself is an 8-row aggregate + a
  * running-sum window over the stage order — report cost is O(stages),
  * not O(corpus), past the one flag-computing pass.
  *
  * Round-9: the flagged table is factored ([[flagged]] / [[FlaggedCteSql]])
  * so `token_mass_funnel` (Queries132) can weight the SAME stages by token
  * mass instead of doc count.
  */
object Queries38 extends QuerySet {
  private[graft] val StageNames = Seq(
    "exact_dup", "language", "length", "repetition", "punctuation",
    "bench_slice", "contaminated")

  /** (doc_id, n_tokens, first_fail) — one scan, every gate flag. */
  private[graft] def flagged(sp: SparkSession, dir: String): DataFrame = {
    val contaminated = Queries10.contaminatedDocs(sp, dir)
      .withColumn("is_contam", lit(1))
    Tables.documents(sp, dir)
      .withColumn("fp", TextF.docFingerprint(col("text")))
      .withColumn("keeper", min("doc_id").over(Window.partitionBy("fp")))
      .withColumn("n_tokens", TextF.tokenCount(col("text")).cast("bigint"))
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("first_fail",
        when(col("doc_id") =!= col("keeper"), 1)
          .when(TextF.langGuess(col("text")) =!= "en", 2)
          .when(col("n_tokens") < 30 || col("n_tokens") > 5000, 3)
          .when(TextF.uniqueTokenRatio(col("text")) < 0.10, 4)
          .when(TextF.punctRatio(col("text")) > 0.20, 5)
          .when(col("doc_id") % Queries10.BenchMod === Queries10.BenchRem, 6)
          .when(col("is_contam").isNotNull, 7)
          .otherwise(0))
      .select(col("doc_id"), col("n_tokens"), col("first_fail"))
  }

  /** The stage dimension table. */
  private[graft] def stagesDf(sp: SparkSession): DataFrame =
    sp.createDataFrame(
      StageNames.zipWithIndex.map { case (n, i) => ((i + 1).toLong, n) }
    ).toDF("stage", "stage_name")

  val defs: Map[String, Q] = Map(
    "filter_funnel" -> { (sp, dir) =>
      val drops = flagged(sp, dir).groupBy("first_fail").agg(count(lit(1)).as("cnt"))
      val total = Tables.documents(sp, dir).count() // narrow count; == |flagged| (left join)
      val wBefore = Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, -1)
      stagesDf(sp)
        .join(drops.select(col("first_fail").cast("bigint").as("stage"), col("cnt")),
          Seq("stage"), "left")
        .withColumn("n_dropped", coalesce(col("cnt"), lit(0L)))
        .withColumn("n_in", lit(total) - coalesce(sum("n_dropped").over(wBefore), lit(0L)))
        .select(col("stage"), col("stage_name"), col("n_in"), col("n_dropped"),
          (col("n_in") - col("n_dropped")).as("n_out"))
        .orderBy("stage")
    }
  )

  /** WITH-fragment ending in `flagged(doc_id, n_tokens, first_fail)` —
    * the SQL twin of [[flagged]], shared with Queries132. */
  private[graft] val FlaggedCteSql: String = {
    val norm = TextF.NormalizeTextSql
    val toks = TextF.TokensSql
    val nTok = s"CASE WHEN $norm = '' THEN 0 ELSE len($toks) END"
    val stopList = "[" + TextF.Stopwords.map(s => s"'$s'").mkString(", ") + "]"
    val stopR = s"CASE WHEN $nTok = 0 THEN 0.0 ELSE CAST(len(list_filter($toks, t -> list_contains($stopList, t))) AS DOUBLE) / $nTok END"
    val uniqR = s"CASE WHEN $nTok = 0 THEN 0.0 ELSE CAST(len(list_distinct($toks)) AS DOUBLE) / $nTok END"
    val noSpace = raw"regexp_replace(text, '\s', '', 'g')"
    val punctR = s"CASE WHEN length($noSpace) = 0 THEN 0.0 ELSE CAST(length(regexp_replace($noSpace, '[a-zA-Z0-9]', '', 'g')) AS DOUBLE) / length($noSpace) END"
    s"""${Queries10.ContaminatedCteSql},
       |flagged AS (
       |  SELECT doc_id, CAST($nTok AS BIGINT) AS n_tokens,
       |    CASE
       |      WHEN doc_id <> min(doc_id) OVER (PARTITION BY md5($norm)) THEN 1
       |      WHEN $stopR < 0.08 THEN 2
       |      WHEN $nTok < 30 OR $nTok > 5000 THEN 3
       |      WHEN $uniqR < 0.10 THEN 4
       |      WHEN $punctR > 0.20 THEN 5
       |      WHEN doc_id % ${Queries10.BenchMod} = ${Queries10.BenchRem} THEN 6
       |      WHEN doc_id IN (SELECT doc_id FROM contaminated) THEN 7
       |      ELSE 0 END AS first_fail
       |  FROM documents
       |)""".stripMargin
  }

  private[graft] val StageValuesSql: String = StageNames.zipWithIndex
    .map { case (n, i) => s"(${i + 1}, '$n')" }.mkString(", ")

  val oracles: Map[String, String] = Map(
    "filter_funnel" ->
      s"""WITH $FlaggedCteSql,
         |drops AS (
         |  SELECT first_fail, CAST(count(*) AS BIGINT) AS cnt FROM flagged GROUP BY first_fail
         |),
         |stages(stage, stage_name) AS (VALUES $StageValuesSql),
         |funnel AS (
         |  SELECT CAST(stage AS BIGINT) AS stage, stage_name,
         |    coalesce(cnt, 0) AS n_dropped,
         |    (SELECT CAST(count(*) AS BIGINT) FROM flagged)
         |      - coalesce(sum(coalesce(cnt, 0)) OVER (ORDER BY stage
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_in
         |  FROM stages LEFT JOIN drops ON drops.first_fail = stages.stage
         |)
         |SELECT stage, stage_name, CAST(n_in AS BIGINT) AS n_in,
         |  CAST(n_dropped AS BIGINT) AS n_dropped,
         |  CAST(n_in - n_dropped AS BIGINT) AS n_out
         |FROM funnel ORDER BY stage""".stripMargin
  )
}
