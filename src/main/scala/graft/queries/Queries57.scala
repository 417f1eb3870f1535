package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-8 continuation #29 — embedding-training counts and the datasheet:
  *
  *  - `skipgram_counts`: the word2vec/GloVe counting job — co-occurrence
  *    frequencies of ordered (center, context) token pairs at forward
  *    distances 1 and 2 (a backward context is the mirrored pair), kept
  *    by distance so the downstream weighting (1/d) stays available.
  *    Pairs are built IN-ROW exactly like `bpe_pair_counts`
  *    (transform over an index sequence — no self-join, nothing wider
  *    than the token array), then ONE map-side-combined count shuffle
  *    carrying (pair, count); corpus text never shuffles.
  *  - `dataset_card`: the one-row datasheet a corpus release ships
  *    (Gebru et al. 2021 "Datasheets for Datasets"): doc/source/language
  *    counts, token mass, mean doc length (exact milli), distinct
  *    fingerprints and the exact-dup rate — ONE aggregation pass over one
  *    scan; the count-distinct columns become approx/KMV sketches
  *    (`distinct_kmv`) at the scale where exact distincts stop paying.
  */
object Queries57 extends QuerySet {
  private val TopPairs = 30

  val defs: Map[String, Q] = Map(
    "skipgram_counts" -> { (sp, dir) =>
      val toks = Tables.documents(sp, dir)
        .select(TextF.tokens(col("text")).as("w"))
      def pairsAt(d: Int): DataFrame = toks
        .filter(size(col("w")) >= d + 1)
        .select(explode(expr(
          s"transform(sequence(0, size(w) - 1 - $d), i -> concat(w[i], ' ', w[i + $d]))"))
          .as("pair"), lit(d.toLong).as("dist"))
      pairsAt(1).unionAll(pairsAt(2))
        .groupBy("pair", "dist").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"), col("dist"))
        .limit(TopPairs)
    },

    "dataset_card" -> { (sp, dir) =>
      val perDoc = Tables.documents(sp, dir)
        .select(col("source"), col("lang"),
          TextF.tokenCount(col("text")).cast("bigint").as("tok"),
          TextF.docFingerprint(col("text")).as("fp"))
      perDoc.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum("tok").as("total_tokens"),
        min("tok").as("min_doc_tokens"),
        max("tok").as("max_doc_tokens"),
        countDistinct(col("fp")).as("n_distinct_docs"))
        .select(col("n_docs"), col("n_sources"), col("n_langs"),
          col("total_tokens"),
          expr("total_tokens * 1000 div n_docs").as("mean_doc_tokens_milli"),
          col("min_doc_tokens"), col("max_doc_tokens"), col("n_distinct_docs"),
          expr("(n_docs - n_distinct_docs) * 1000 div n_docs").as("dup_rate_milli"))
    }
  )

  private val toksSql = TextF.TokensSql

  val oracles: Map[String, String] = Map(
    "skipgram_counts" ->
      s"""WITH t AS (
         |  SELECT $toksSql AS w FROM documents
         |),
         |p AS (
         |  SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS pair,
         |    CAST(1 AS BIGINT) AS dist
         |  FROM t WHERE len(w) >= 2
         |  UNION ALL
         |  SELECT unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+2])) AS pair,
         |    CAST(2 AS BIGINT) AS dist
         |  FROM t WHERE len(w) >= 3
         |)
         |SELECT pair, dist, CAST(count(*) AS BIGINT) AS cnt
         |FROM p GROUP BY pair, dist
         |ORDER BY cnt DESC, pair, dist LIMIT $TopPairs""".stripMargin,

    "dataset_card" ->
      s"""WITH per_doc AS (
         |  SELECT source, lang,
         |    CASE WHEN ${TextF.NormalizeTextSql} = '' THEN 0
         |         ELSE len($toksSql) END AS tok,
         |    md5(${TextF.NormalizeTextSql}) AS fp
         |  FROM documents
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(sum(tok) AS BIGINT) AS total_tokens,
         |  CAST(sum(tok) * 1000 // count(*) AS BIGINT) AS mean_doc_tokens_milli,
         |  CAST(min(tok) AS BIGINT) AS min_doc_tokens,
         |  CAST(max(tok) AS BIGINT) AS max_doc_tokens,
         |  CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_docs,
         |  CAST((count(*) - count(DISTINCT fp)) * 1000 // count(*) AS BIGINT)
         |    AS dup_rate_milli
         |FROM per_doc""".stripMargin
  )
}
