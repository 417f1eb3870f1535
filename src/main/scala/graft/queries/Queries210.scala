package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-15 batch #11 — corpus-composition structure:
  *
  *  - `vocab_overlap_matrix`: exact Jaccard of the TOKEN VOCABULARIES of
  *    every source pair — which sources speak the same language vs bring
  *    genuinely new tokens to the mix (the lexical complement of
  *    source_divergence's distributional KL read). Work is bounded by
  *    |vocab| × |sources|: per-source distinct tokens, one equi-join on
  *    token, C(sources, 2) output rows.
  */
object Queries210 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "vocab_overlap_matrix" -> { (sp, dir) =>
      val vocab = graft.util.CacheScope.track(Tables.documents(sp, dir)
        .select(col("source"), explode(TextF.tokens(col("text"))).as("tok"))
        .distinct())
      vocab.count()
      val sizes = vocab.groupBy("source").agg(count(lit(1)).as("n"))
      val shared = vocab.toDF("sa", "tok")
        .join(vocab.toDF("sb", "tok"), "tok")
        .filter(col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("shared"))
      shared
        .join(sizes.toDF("sa", "na"), "sa")
        .join(sizes.toDF("sb", "nb"), "sb")
        .select(col("sa"), col("sb"), col("shared"), col("na"), col("nb"),
          expr("shared * 1000 div (na + nb - shared)").as("jac_pm"))
        .orderBy("sa", "sb")
    }
  )

  val oracles: Map[String, String] = Map(
    "vocab_overlap_matrix" ->
      s"""WITH vocab AS (
         |  SELECT DISTINCT source, unnest(${TextF.TokensSql}) AS tok FROM documents
         |), sizes AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM vocab GROUP BY source
         |), shared AS (
         |  SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS shared
         |  FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.source < b.source
         |  GROUP BY 1, 2
         |)
         |SELECT sa, sb, shared, na.n AS na, nb.n AS nb,
         |  CAST(shared * 1000 // (na.n + nb.n - shared) AS BIGINT) AS jac_pm
         |FROM shared
         |JOIN sizes na ON na.source = sa
         |JOIN sizes nb ON nb.source = sb
         |ORDER BY sa, sb""".stripMargin
  )
}
