package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-9 batch #7 — corpus routing and information-content audits:
  *
  *  - `pii_density_report`: per-source PII exposure — email/phone match
  *    mass (the `pii_scrub_text` patterns and plants, shared verbatim)
  *    rolled up per source with exact per-mille document density; the
  *    report a privacy review reads before a source ships.
  *  - `code_detect`: code-vs-prose routing (the StarCoder-style corpus
  *    split): integer code-symbol density per doc over planted code
  *    fragments — one narrow projection, the flag a mixed crawl uses to
  *    route docs to the code or prose pipeline.
  *  - `corpus_entropy_rate`: unigram vs bigram token entropy in exact
  *    quantized milli-bits (the `transition_entropy` bit-length
  *    spelling over corpus-wide counts): the bigram−unigram gap
  *    approximates the conditional entropy rate — the
  *    compressibility/repetitiveness one-number read of the corpus. Two
  *    map-side-combined count shuffles; corpus text never shuffles.
  */
object Queries87 extends QuerySet {
  private[graft] val CodeEvery = 23
  private[graft] val CodeMod = 3
  private[graft] val CodeSnippet = " def f(x){ return x[0]+1; } // inline helper"
  private[graft] val CodeSymbols = "{}();=[]<>"
  private[graft] val CodeScoreMin = 15L // symbols per mille of chars

  val defs: Map[String, Q] = Map(
    "pii_density_report" -> { (sp, dir) =>
      val planted = Tables.documents(sp, dir)
        .select(col("doc_id"), col("source"),
          Queries10.piiText(col("doc_id"), col("text")).as("txt"))
      planted
        .select(col("source"),
          TextF.emailCount(col("txt")).cast("long").as("e"),
          TextF.phoneCount(col("txt")).cast("long").as("p"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("e").as("n_emails"), sum("p").as("n_phones"),
          sum(when(col("e") + col("p") > 0, 1L).otherwise(0L)).as("n_pii_docs"))
        .select(col("source"), col("n_docs"), col("n_emails"), col("n_phones"),
          col("n_pii_docs"),
          expr("n_pii_docs * 1000 div n_docs").as("pii_doc_milli"))
        .orderBy("source")
    },

    "code_detect" -> { (sp, dir) =>
      val planted = when(col("doc_id") % CodeEvery === CodeMod,
        concat(col("text"), lit(CodeSnippet))).otherwise(col("text"))
      // symbol count = chars removed by deleting the symbol class
      val symRe = "[" + CodeSymbols.map(c => "\\" + c).mkString + "]"
      Tables.documents(sp, dir)
        .select(col("doc_id"), planted.as("txt"))
        .select(col("doc_id"),
          length(col("txt")).cast("long").as("n_chars"),
          (length(col("txt")) - length(regexp_replace(col("txt"), symRe, "")))
            .cast("long").as("n_code_chars"))
        .select(col("doc_id"), col("n_chars"), col("n_code_chars"),
          expr("n_code_chars * 1000 div n_chars").as("code_score_milli"),
          (expr("n_code_chars * 1000 div n_chars") >= CodeScoreMin).as("is_code"))
        .orderBy("doc_id")
    },

    "corpus_entropy_rate" -> { (sp, dir) =>
      val toks = Tables.documents(sp, dir).select(TextF.tokens(col("text")).as("w"))
      def entropyRow(units: DataFrame, name: String): DataFrame = {
        val counts = units.groupBy("u").agg(count(lit(1)).as("c"))
        val tot = counts.agg(sum("c").as("n"), count(lit(1)).as("n_types"))
        counts.crossJoin(broadcast(tot))
          .select((col("c") *
            ((length(bin(col("n"))) - 1) - (length(bin(col("c"))) - 1)).cast("long")).as("term"),
            col("n"), col("n_types"))
          .groupBy("n", "n_types").agg(sum("term").as("hq"))
          .select(lit(name).as("unit"), col("n").as("n_units"), col("n_types"),
            expr("hq * 1000 div n").as("entropy_milli_bits"))
      }
      val uni = entropyRow(toks.select(explode(col("w")).as("u")), "unigram")
      val bi = entropyRow(
        toks.filter(size(col("w")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))")).as("u")),
        "bigram")
      uni.unionAll(bi).orderBy("unit")
    }
  )

  val oracles: Map[String, String] = {
    val toksSql = TextF.TokensSql
    Map(
      "pii_density_report" ->
        s"""WITH planted AS (
           |  SELECT doc_id, source, ${Queries10.piiTextSql} AS txt FROM documents
           |),
           |per AS (
           |  SELECT source,
           |    CAST(len(regexp_extract_all(txt, '${TextF.EmailPattern}')) AS BIGINT) AS e,
           |    CAST(len(regexp_extract_all(txt, '${TextF.PhonePattern}')) AS BIGINT) AS p
           |  FROM planted
           |)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(e) AS BIGINT) AS n_emails, CAST(sum(p) AS BIGINT) AS n_phones,
           |  CAST(sum(CASE WHEN e + p > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
           |  CAST(sum(CASE WHEN e + p > 0 THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
           |    AS pii_doc_milli
           |FROM per GROUP BY source ORDER BY source""".stripMargin,

      "code_detect" ->
        s"""SELECT doc_id, n_chars, n_code_chars,
           |  CAST(n_code_chars * 1000 // n_chars AS BIGINT) AS code_score_milli,
           |  n_code_chars * 1000 // n_chars >= $CodeScoreMin AS is_code
           |FROM (
           |  SELECT doc_id, CAST(length(txt) AS BIGINT) AS n_chars,
           |    CAST(length(txt) - length(regexp_replace(txt, '[{}();=<>\\[\\]]', '', 'g')) AS BIGINT)
           |      AS n_code_chars
           |  FROM (SELECT doc_id,
           |    CASE WHEN doc_id % $CodeEvery = $CodeMod THEN concat(text, '$CodeSnippet')
           |         ELSE text END AS txt
           |    FROM documents) p
           |) t ORDER BY doc_id""".stripMargin,

      "corpus_entropy_rate" ->
        s"""WITH toks AS (SELECT $toksSql AS w FROM documents),
           |uni AS (SELECT unnest(w) AS u FROM toks),
           |bi AS (
           |  SELECT unnest(list_transform(range(1, len(w)), i ->
           |    concat(list_extract(w, i), ' ', list_extract(w, i + 1)))) AS u
           |  FROM toks WHERE len(w) >= 2
           |),
           |ent AS (
           |  SELECT 'unigram' AS unit, u FROM uni
           |  UNION ALL
           |  SELECT 'bigram' AS unit, u FROM bi
           |),
           |counts AS (SELECT unit, u, CAST(count(*) AS BIGINT) AS c FROM ent GROUP BY 1, 2),
           |tot AS (SELECT unit, CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_types
           |        FROM counts GROUP BY unit)
           |SELECT c.unit, t.n AS n_units, t.n_types,
           |  CAST(sum(c.c * ((length(bin(t.n)) - 1) - (length(bin(c.c)) - 1))) * 1000 // t.n AS BIGINT)
           |    AS entropy_milli_bits
           |FROM counts c JOIN tot t ON t.unit = c.unit
           |GROUP BY c.unit, t.n, t.n_types
           |ORDER BY c.unit""".stripMargin
    )
  }
}
