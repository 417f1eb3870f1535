package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-14 batch #10 — cross-cutting leak/impact audits:
  *
  *  - `cross_lang_dups`: MinHash candidate pairs whose two docs carry
  *    DIFFERENT language labels, as a bounded lang-pair matrix — the
  *    translation/near-dup leakage scan (a cross-lang dup survives
  *    per-language dedup shards).
  *  - `quality_filter_venn`: the 8-cell Venn of the three binary keep
  *    filters (`cochran_q`'s inputs) with doc and token mass per cell —
  *    which filter combination actually gates the corpus.
  *  - `error_impact_screen`: per-user error-event burden band (0 / 1-2 /
  *    3+) vs purchase conversion — does a bad experience suppress
  *    conversion; two key-shrinking rollups.
  */
object Queries195 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "cross_lang_dups" -> { (sp, dir) =>
      val langs = Tables.documents(sp, dir).select(col("doc_id"), col("lang"))
      val pairs = Queries6.minhashPairs(sp, dir)
      pairs
        .join(langs.select(col("doc_id").as("id_a"), col("lang").as("lang_a")), Seq("id_a"))
        .join(langs.select(col("doc_id").as("id_b"), col("lang").as("lang_b")), Seq("id_b"))
        .select(least(col("lang_a"), col("lang_b")).as("lang_lo"),
          greatest(col("lang_a"), col("lang_b")).as("lang_hi"))
        .groupBy("lang_lo", "lang_hi")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("cross_lang", when(col("lang_lo") =!= col("lang_hi"), 1L).otherwise(0L))
        .orderBy("lang_lo", "lang_hi")
    },

    "quality_filter_venn" -> { (sp, dir) =>
      Tables.documents(sp, dir)
        .select(when(col("n_chars") > 300, 1L).otherwise(0L).as("f_len"),
          when(TextF.tokenCount(col("text")) > 60, 1L).otherwise(0L).as("f_tok"),
          when(col("lang") === "en", 1L).otherwise(0L).as("f_en"),
          TextF.tokenCount(col("text")).cast("bigint").as("n_tokens"))
        .groupBy("f_len", "f_tok", "f_en")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("token_mass"))
        .orderBy("f_len", "f_tok", "f_en")
    },

    "error_impact_screen" -> { (sp, dir) =>
      Tables.events(sp, dir)
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
        .select(
          when(col("n_errors") === 0, "a_none")
            .when(col("n_errors") <= 2, "b_some")
            .otherwise("c_many").as("error_band"),
          col("n_purchases"))
        .groupBy("error_band")
        .agg(count(lit(1)).as("n_users"),
          sum("n_purchases").as("n_purchases"),
          sum(when(col("n_purchases") > 0, 1L).otherwise(0L)).as("n_converted"))
        .select(col("error_band"), col("n_users"), col("n_purchases"),
          expr("n_purchases * 1000 div n_users").as("purchases_per_user_milli"),
          expr("n_converted * 1000 div n_users").as("conv_pm"))
        .orderBy("error_band")
    }
  )

  // ---- DuckDB twins ----

  private val tokCnt = {
    val n = TextF.NormalizeTextSql
    s"CASE WHEN $n = '' THEN 0 ELSE len(string_split($n, ' ')) END"
  }

  val oracles: Map[String, String] = Map(
    "cross_lang_dups" ->
      s"""WITH ${Queries6.MinhashPairsCteSql},
         |lp AS (
         |  SELECT least(da.lang, db.lang) AS lang_lo,
         |    greatest(da.lang, db.lang) AS lang_hi
         |  FROM pairs
         |  JOIN documents da ON da.doc_id = id_a
         |  JOIN documents db ON db.doc_id = id_b)
         |SELECT lang_lo, lang_hi, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(CASE WHEN lang_lo <> lang_hi THEN 1 ELSE 0 END AS BIGINT) AS cross_lang
         |FROM lp GROUP BY 1, 2 ORDER BY lang_lo, lang_hi""".stripMargin,

    "quality_filter_venn" ->
      s"""WITH f AS (
         |  SELECT CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS f_len,
         |    CASE WHEN ($tokCnt) > 60 THEN 1 ELSE 0 END AS f_tok,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS f_en,
         |    CAST($tokCnt AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT CAST(f_len AS BIGINT) AS f_len, CAST(f_tok AS BIGINT) AS f_tok,
         |  CAST(f_en AS BIGINT) AS f_en,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS token_mass
         |FROM f GROUP BY 1, 2, 3 ORDER BY f_len, f_tok, f_en""".stripMargin,

    "error_impact_screen" ->
      s"""WITH pu AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
         |  FROM events GROUP BY 1),
         |b AS (
         |  SELECT CASE WHEN n_errors = 0 THEN 'a_none'
         |              WHEN n_errors <= 2 THEN 'b_some'
         |              ELSE 'c_many' END AS error_band, n_purchases
         |  FROM pu)
         |SELECT error_band, CAST(count(*) AS BIGINT) AS n_users,
         |  CAST(sum(n_purchases) AS BIGINT) AS n_purchases,
         |  CAST(sum(n_purchases) * 1000 // count(*) AS BIGINT) AS purchases_per_user_milli,
         |  CAST(sum(CASE WHEN n_purchases > 0 THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
         |    AS conv_pm
         |FROM b GROUP BY 1 ORDER BY error_band""".stripMargin
  )
}
