package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF
import graft.queries.IntIdioms.{bits, tdivSql}

/** Round-9 batch #39 — doc-local keyphrases + the corpus growth law:
  *
  *  - `rake_keyphrases`: RAKE keyphrase extraction (Rose et al. 2010) —
  *    candidate phrases are maximal stopword-free token runs; a word
  *    scores degree/frequency over its doc's phrases (milli); a phrase
  *    scores the sum of its word scores; each doc emits its top phrase.
  *    Entirely doc-local (two explodes + per-doc aggregations, no
  *    corpus-wide state) — the complement of `tfidf_topterms`' corpus
  *    statistics. Phrase splitting rides on the shared normalizer: every
  *    stopword is replaced by a boundary in two passes (the second pass
  *    catches the overlapping-delimiter case "of the" leaves behind),
  *    spelled identically in DuckDB's nested replace chain.
  *  - `heaps_law_fit`: Heaps' law V(T) ≈ K·T^β — cumulative vocabulary
  *    vs cumulative token mass at power-of-two doc checkpoints (first
  *    occurrences come from one word-keyed min-doc aggregation, so no
  *    quadratic rescan), with β as the bits-quantized OLS slope
  *    (milli-bits-per-doubling, the zipf_fit recipe). Checkpoint count
  *    is log₂(docs) — bounded at any scale.
  */
object Queries119 extends QuerySet {
  /** Stopword-run boundaries: two replace passes per stopword (the
    * second catches overlaps), then split on the boundary token. */
  private def phraseSplit(norm: Column): Column = {
    val padded = concat(lit(" "), norm, lit(" "))
    val marked = (1 to 2).foldLeft(padded) { (c, _) =>
      TextF.Stopwords.foldLeft(c)((c2, sw) => regexp_replace(c2, s" $sw ", " | "))
    }
    filter(transform(split(marked, "\\|"), p => trim(p)), p => p =!= "")
  }

  private def phraseSplitSql(norm: String): String = {
    val padded = s"concat(' ', $norm, ' ')"
    val marked = (1 to 2).foldLeft(padded) { (c, _) =>
      TextF.Stopwords.foldLeft(c)((c2, sw) => s"replace($c2, ' $sw ', ' | ')")
    }
    s"list_filter(list_transform(string_split($marked, '|'), p -> trim(p)), p -> p <> '')"
  }

  val defs: Map[String, Q] = Map(
    "rake_keyphrases" -> { (sp, dir) =>
      val phrases = Tables.documents(sp, dir)
        .select(col("doc_id"), explode(phraseSplit(TextF.normalizeText(col("text")))).as("phrase"))
      val pw = phrases
        .select(col("doc_id"), col("phrase"), explode(split(col("phrase"), " ")).as("word"),
          size(split(col("phrase"), " ")).cast("long").as("plen"))
      val wstats = pw.groupBy("doc_id", "word")
        .agg(count(lit(1)).as("freq"), sum("plen").as("degree"))
        .withColumn("wscore", expr("degree * 1000 div freq"))
      // pw carries one row per phrase OCCURRENCE per word position; the
      // canonical RAKE score is per candidate phrase, so divide the summed
      // word scores by the occurrence count (exact: sum = occ × per-occ)
      val occ = phrases.groupBy("doc_id", "phrase").agg(count(lit(1)).as("occ"))
      val pscore = pw.join(wstats, Seq("doc_id", "word"))
        .groupBy("doc_id", "phrase").agg(sum("wscore").as("total"))
        .join(occ, Seq("doc_id", "phrase"))
        .select(col("doc_id"), col("phrase"), expr("total div occ").as("score_milli"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score_milli").desc, col("phrase"))
      pscore.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("doc_id"), col("phrase"), col("score_milli"))
        .orderBy("doc_id")
    },

    "heaps_law_fit" -> { (sp, dir) =>
      val toks = Tables.documents(sp, dir)
        .select(col("doc_id"), explode(TextF.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
      val firstSeen = toks.groupBy("word").agg(min("doc_id").as("fd"))
      val docToks = toks.groupBy("doc_id").agg(count(lit(1)).as("nt"))
      val nDocs = Tables.documents(sp, dir).count() // bounded scalar for checkpoints
      val cps = Iterator.iterate(1L)(_ * 2).takeWhile(_ <= nDocs).toSeq
      import sp.implicits._
      val cpDf = broadcast(cps.toDF("cp"))
      val vocabAt = cpDf.join(firstSeen, col("fd") <= col("cp"))
        .groupBy("cp").agg(count(lit(1)).as("vocab_cum"))
      val toksAt = cpDf.join(docToks, col("doc_id") <= col("cp"))
        .groupBy("cp").agg(sum("nt").as("tokens_cum"))
      val pts = vocabAt.join(toksAt, Seq("cp"))
        .select(col("cp"), col("tokens_cum"), col("vocab_cum"),
          bits(col("tokens_cum")).as("x"), bits(col("vocab_cum")).as("y"))
      val slope = "(n * sxy - sx * sy) * 1000 div (n * sxx - sx * sx)"
      val m = pts.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select(expr(slope).as("beta_milli_bits"))
      pts.crossJoin(broadcast(m))
        .select(col("cp").as("cp_docs"), col("tokens_cum"), col("vocab_cum"),
          col("beta_milli_bits"))
        .orderBy("cp_docs")
    }
  )

  val oracles: Map[String, String] = Map(
    "rake_keyphrases" ->
      s"""WITH phrases AS MATERIALIZED (
         |  SELECT doc_id, unnest(${phraseSplitSql(TextF.NormalizeTextSql)}) AS phrase
         |  FROM documents
         |),
         |pw AS MATERIALIZED (
         |  SELECT doc_id, phrase, unnest(string_split(phrase, ' ')) AS word,
         |    CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen
         |  FROM phrases
         |),
         |wstats AS (
         |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS freq,
         |    CAST(sum(plen) AS BIGINT) AS degree
         |  FROM pw GROUP BY 1, 2
         |),
         |occ AS (
         |  SELECT doc_id, phrase, CAST(count(*) AS BIGINT) AS occ
         |  FROM phrases GROUP BY 1, 2
         |),
         |pscore AS (
         |  SELECT t.doc_id, t.phrase, CAST(t.total // o.occ AS BIGINT) AS score_milli
         |  FROM (
         |    SELECT pw.doc_id, pw.phrase,
         |      CAST(sum(w.degree * 1000 // w.freq) AS BIGINT) AS total
         |    FROM pw JOIN wstats w ON w.doc_id = pw.doc_id AND w.word = pw.word
         |    GROUP BY 1, 2
         |  ) t JOIN occ o ON o.doc_id = t.doc_id AND o.phrase = t.phrase
         |)
         |SELECT doc_id, phrase, score_milli FROM (
         |  SELECT doc_id, phrase, score_milli,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score_milli DESC, phrase) AS rk
         |  FROM pscore) t
         |WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    "heaps_law_fit" -> {
      val slope = tdivSql("(n * sxy - sx * sy) * 1000", "(n * sxx - sx * sx)")
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id, word FROM (
         |    SELECT doc_id, unnest(${TextF.TokensSql}) AS word FROM documents
         |  ) t WHERE word <> ''
         |),
         |first_seen AS (SELECT word, CAST(min(doc_id) AS BIGINT) AS fd FROM toks GROUP BY 1),
         |doc_toks AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY 1),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |cps AS (
         |  SELECT CAST(pow(2, g) AS BIGINT) AS cp
         |  FROM (SELECT unnest(range(0, 40)) AS g), nd
         |  WHERE CAST(pow(2, g) AS BIGINT) <= nd.n_docs
         |),
         |pts AS (
         |  SELECT c.cp,
         |    (SELECT CAST(sum(nt) AS BIGINT) FROM doc_toks WHERE doc_id <= c.cp) AS tokens_cum,
         |    (SELECT CAST(count(*) AS BIGINT) FROM first_seen WHERE fd <= c.cp) AS vocab_cum
         |  FROM cps c
         |),
         |xy AS (
         |  SELECT cp, tokens_cum, vocab_cum,
         |    CAST(length(bin(tokens_cum)) - 1 AS BIGINT) AS x,
         |    CAST(length(bin(vocab_cum)) - 1 AS BIGINT) AS y
         |  FROM pts
         |),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx
         |  FROM xy
         |)
         |SELECT xy.cp AS cp_docs, xy.tokens_cum, xy.vocab_cum,
         |  $slope AS beta_milli_bits
         |FROM xy CROSS JOIN m ORDER BY cp_docs""".stripMargin
    }
  )
}
