package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF
import graft.plans.GraftFunctions

/** Round-9 batch #62 — the SQL-first API surface + dataset-card grid:
  *
  *  - `sql_surface_pipeline`: a query authored ENTIRELY as SQL text
  *    through the registered `graft_*` functions
  *    (`spark.sql("SELECT graft_token_count(text), ...")`) — the
  *    surface a SQL-warehouse user works through. Every function call
  *    expands to the same codegen'd expression tree the Column API
  *    builds (GraftFunctions registers expression BUILDERS, not UDFs),
  *    and the oracle recomputes all three kernels (token count,
  *    fingerprint, simhash16) from their shared DuckDB spellings — so
  *    the SQL surface is oracle-checked end-to-end, not just
  *    spot-tested.
  *  - `source_lang_mix`: the (source × lang) dataset-card grid —
  *    docs, token mass, and within-source token share in exact milli;
  *    the breakdown `corpus_mix` (source grain) and `dataset_card`
  *    (global grain) bracket but never show. One scan, one
  *    two-key aggregation + a broadcast source-total join. */
object Queries142 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "sql_surface_pipeline" -> { (sp, dir) =>
      GraftFunctions.install(sp)
      Tables.documents(sp, dir).createOrReplaceTempView("graft_docs")
      sp.sql(
        """SELECT doc_id,
          |  CAST(graft_token_count(text) AS BIGINT) AS n_tokens,
          |  graft_doc_fingerprint(text) AS fp,
          |  CAST(graft_simhash16(text) AS BIGINT) AS simhash
          |FROM graft_docs ORDER BY doc_id""".stripMargin)
    },

    "source_lang_mix" -> { (sp, dir) =>
      val cells = Tables.documents(sp, dir)
        .select(col("source"), col("lang"),
          TextF.tokenCount(col("text")).cast("bigint").as("tok"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("tokens"))
      val srcTot = cells.groupBy("source").agg(sum("tokens").as("src_tokens"))
      cells.join(broadcast(srcTot), Seq("source"))
        .select(col("source"), col("lang"), col("n_docs"), col("tokens"),
          expr("tokens * 1000 div src_tokens").as("src_share_milli"))
        .orderBy("source", "lang")
    }
  )

  val oracles: Map[String, String] = {
    val norm = TextF.NormalizeTextSql
    val toks = TextF.TokensSql
    val nTok = s"CASE WHEN $norm = '' THEN 0 ELSE len($toks) END"
    Map(
      "sql_surface_pipeline" ->
        s"""SELECT doc_id, CAST($nTok AS BIGINT) AS n_tokens,
           |  md5($norm) AS fp,
           |  CAST(${LlmQueries.Simhash16FromValsSql} AS BIGINT) AS simhash
           |FROM (
           |  SELECT doc_id, text, ${LlmQueries.Simhash16ValsSql} AS vals
           |  FROM documents
           |) t ORDER BY doc_id""".stripMargin,

      "source_lang_mix" ->
        s"""WITH cells AS (
           |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum($nTok) AS BIGINT) AS tokens
           |  FROM documents GROUP BY 1, 2
           |),
           |tot AS (SELECT source, CAST(sum(tokens) AS BIGINT) AS src_tokens
           |        FROM cells GROUP BY source)
           |SELECT c.source, c.lang, c.n_docs, c.tokens,
           |  CAST(c.tokens * 1000 // t.src_tokens AS BIGINT) AS src_share_milli
           |FROM cells c JOIN tot t ON t.source = c.source
           |ORDER BY c.source, c.lang""".stripMargin
    )
  }
}
