package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-12 batch #20 — margin accounting, corpus skew, and per-language
  * length profiles:
  *
  *  - `effective_margin_profile`: the finance identity per return flag —
  *    gross revenue, discount give-back, tax collected (all exact cents,
  *    per-line integer quantization) and the net-of-discount margin
  *    per-mille: the one-scan P&L read over the line table.
  *  - `length_concentration`: token-mass concentration per source — the
  *    share of a source's token mass held by its longest decile of docs
  *    (exact rank cut): the shard-skew read that predicts straggler
  *    partitions when sharding by doc (activity_concentration's corpus
  *    twin).
  *  - `length_by_lang`: exact p50/p90 token-count percentiles per
  *    language — the per-language length profile that calibrates
  *    length-based quality gates across languages (a threshold tuned on
  *    English clips other languages without this table).
  */
object Queries177 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "effective_margin_profile" -> { (sp, dir) =>
      Tables.lineitem(sp, dir)
        .select(col("l_returnflag").as("flag"),
          round(col("l_extendedprice") * 100).cast("long").as("gross"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT) div 100")
            .as("disc"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_tax * 100) AS BIGINT) div 100")
            .as("tax"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n_lines"),
          sum("gross").as("gross_cents"),
          sum("disc").as("discount_cents"),
          sum("tax").as("tax_cents"))
        .withColumn("net_margin_pm",
          expr("(gross_cents - discount_cents) * 1000 div gross_cents"))
        .orderBy("flag")
    },

    "length_concentration" -> { (sp, dir) =>
      val lens = Tables.documents(sp, dir)
        .select(col("source"), col("doc_id"),
          TextF.tokenCount(col("text")).cast("long").as("n_toks"))
      val ranked = lens
        .withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy(col("n_toks").desc, col("doc_id"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
      ranked.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_toks").as("tokens"),
          sum(when(col("rk") * 10 <= col("n"), col("n_toks")).otherwise(0L))
            .as("top_decile_tokens"))
        .withColumn("top_decile_pm",
          expr("top_decile_tokens * 1000 div greatest(tokens, 1)"))
        .orderBy("source")
    },

    "length_by_lang" -> { (sp, dir) =>
      val lens = Tables.documents(sp, dir)
        .select(col("lang"), col("doc_id"),
          TextF.tokenCount(col("text")).cast("long").as("n_toks"))
      val ranked = lens
        .withColumn("rk", row_number().over(
          Window.partitionBy("lang").orderBy(col("n_toks"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
      ranked.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          max(when(col("rk") === expr("1 + (n - 1) * 50 div 100"), col("n_toks")))
            .as("p50_toks"),
          max(when(col("rk") === expr("1 + (n - 1) * 90 div 100"), col("n_toks")))
            .as("p90_toks"))
        .orderBy("lang")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "effective_margin_profile" ->
      """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(gross) AS BIGINT) AS gross_cents,
        |  CAST(sum(disc) AS BIGINT) AS discount_cents,
        |  CAST(sum(tax) AS BIGINT) AS tax_cents,
        |  CAST((sum(gross) - sum(disc)) * 1000 // sum(gross) AS BIGINT) AS net_margin_pm
        |FROM (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS gross,
        |    CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * CAST(round(l_discount * 100) AS BIGINT) // 100 AS disc,
        |    CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * CAST(round(l_tax * 100) AS BIGINT) // 100 AS tax
        |  FROM lineitem) t
        |GROUP BY 1 ORDER BY flag""".stripMargin,

    "length_concentration" -> {
      s"""WITH lens AS (
         |  SELECT source, doc_id,
         |    CASE WHEN ${TextF.NormalizeTextSql} = '' THEN 0 ELSE CAST(len(${TextF.TokensSql}) AS BIGINT) END AS n_toks
         |  FROM documents),
         |ranked AS (
         |  SELECT source, n_toks,
         |    row_number() OVER (PARTITION BY source ORDER BY n_toks DESC, doc_id) AS rk,
         |    count(*) OVER (PARTITION BY source) AS n
         |  FROM lens)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS tokens,
         |  CAST(sum(CASE WHEN rk * 10 <= n THEN n_toks ELSE 0 END) AS BIGINT)
         |    AS top_decile_tokens,
         |  CAST(sum(CASE WHEN rk * 10 <= n THEN n_toks ELSE 0 END) * 1000
         |    // greatest(sum(n_toks), 1) AS BIGINT) AS top_decile_pm
         |FROM ranked GROUP BY source ORDER BY source""".stripMargin
    },

    "length_by_lang" ->
      s"""WITH lens AS (
         |  SELECT lang, doc_id,
         |    CASE WHEN ${TextF.NormalizeTextSql} = '' THEN 0 ELSE CAST(len(${TextF.TokensSql}) AS BIGINT) END AS n_toks
         |  FROM documents),
         |ranked AS (
         |  SELECT lang, n_toks,
         |    row_number() OVER (PARTITION BY lang ORDER BY n_toks, doc_id) AS rk,
         |    count(*) OVER (PARTITION BY lang) AS n
         |  FROM lens)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(max(CASE WHEN rk = 1 + (n - 1) * 50 // 100 THEN n_toks END) AS BIGINT)
         |    AS p50_toks,
         |  CAST(max(CASE WHEN rk = 1 + (n - 1) * 90 // 100 THEN n_toks END) AS BIGINT)
         |    AS p90_toks
         |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin
  )
}
