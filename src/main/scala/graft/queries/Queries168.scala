package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-12 batch #11 — schema drift, hash hygiene, and retrieval eval:
  *
  *  - `props_key_census`: the event-properties schema census — per JSON
  *    key: event count, coverage share, distinct values, and numeric
  *    min/max (null when non-numeric). The schema-drift tripwire for the
  *    self-describing `props` payload: a new tracker release adding or
  *    retyping a key shows up here before any consumer breaks. One
  *    `from_json` map explode + a key-shrinking rollup.
  *  - `simhash_bit_bias`: per-bit ones-share of the 16-bit SimHash
  *    signatures in per-mille — a healthy hash reads ≈500 everywhere;
  *    a biased bit weakens Hamming separation and degrades
  *    dedup_simhash's precision silently. 16 in-row bit extracts, one
  *    bounded rollup.
  *  - `mrr_eval`: mean-reciprocal-rank over the BM25 rankings with a
  *    STRICT relevance gate (doc contains ALL the query's terms — the
  *    any-term gate is vacuous on BM25, which only retrieves term
  *    matches); first satisfying rank per query, RR in exact
  *    milli-units, 0 when nothing qualifies. Completes the retrieval
  *    eval tier next to ndcg_eval's graded gains.
  */
object Queries168 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "props_key_census" -> { (sp, dir) =>
      val total = Tables.events(sp, dir).count() // plan-time scalar, one agg
      Tables.events(sp, dir)
        .select(explode(from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))).as(Seq("key", "value")))
        .groupBy("key")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("value")).as("distinct_vals"),
          min(expr("try_cast(value AS BIGINT)")).as("min_num"),
          max(expr("try_cast(value AS BIGINT)")).as("max_num"))
        .withColumn("share_permille", expr(s"n_events * 1000 div $total"))
        .orderBy("key")
    },

    "simhash_bit_bias" -> { (sp, dir) =>
      val sigs = Tables.documents(sp, dir)
        .select(TextF.simhash16(col("text")).as("sig"))
      val bits = explode(array((0 until 16).map(b =>
        struct(lit(b.toLong).as("bit"),
          (shiftright(col("sig"), b) % 2).cast("long").as("v"))): _*))
      sigs.select(bits.as("x"))
        .select(col("x.bit").as("bit"), col("x.v").as("v"))
        .groupBy("bit")
        .agg(count(lit(1)).as("n_docs"), sum("v").as("ones"))
        .withColumn("ones_permille", expr("ones * 1000 div n_docs"))
        .withColumn("bias_permille", abs(expr("ones * 2000 div n_docs - 1000")))
        .orderBy("bit")
    },

    "mrr_eval" -> { (sp, dir) =>
      import sp.implicits._
      val qterms = Queries25.QuerySet
        .flatMap { case (q, s) => s.split(" ").map(t => (q, t)) }.toDF("q_id", "t")
      val nTerms = Queries25.QuerySet
        .map { case (q, s) => (q, s.split(" ").distinct.length.toLong) }.toDF("q_id", "n_terms")
      // strict relevance: the doc contains EVERY term of the query
      val fullRel = Tables.documents(sp, dir)
        .select(col("doc_id"), explode(array_distinct(TextF.tokens(col("text")))).as("t"))
        .join(broadcast(qterms), Seq("t"))
        .groupBy("q_id", "doc_id").agg(count(lit(1)).as("hits"))
        .join(broadcast(nTerms), "q_id")
        .filter(col("hits") === col("n_terms"))
        .select(col("q_id"), col("doc_id"), lit(1L).as("rel"))
      val firstRel = Queries25.defs("bm25_topk")(sp, dir)
        .join(fullRel, Seq("q_id", "doc_id"), "left")
        .filter(col("rel").isNotNull)
        .groupBy("q_id").agg(min("rk").as("first_rel_rank"))
      nTerms.select(col("q_id"))
        .join(firstRel, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("first_rel_rank").cast("long"), lit(0L)).as("first_rel_rank"),
          coalesce(expr("1000 div first_rel_rank"), lit(0L)).as("rr_milli"))
        .orderBy("q_id")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "props_key_census" ->
      """WITH kv AS (
        |  SELECT k AS key, json_extract_string(props, '$.' || k) AS value
        |  FROM (SELECT props, unnest(json_keys(props)) AS k FROM events) t),
        |tot AS (SELECT count(*) AS n FROM events)
        |SELECT key, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT value) AS BIGINT) AS distinct_vals,
        |  CAST(min(try_cast(value AS BIGINT)) AS BIGINT) AS min_num,
        |  CAST(max(try_cast(value AS BIGINT)) AS BIGINT) AS max_num,
        |  CAST(count(*) * 1000 // (SELECT n FROM tot) AS BIGINT) AS share_permille
        |FROM kv GROUP BY key ORDER BY key""".stripMargin,

    "simhash_bit_bias" -> {
      s"""WITH sigs AS (
         |  SELECT ${LlmQueries.Simhash16FromValsSql} AS sig FROM (
         |    SELECT ${LlmQueries.Simhash16ValsSql} AS vals FROM documents) t),
         |bits AS (
         |  SELECT b AS bit, (sig >> b) % 2 AS v
         |  FROM sigs, (SELECT unnest(range(0, 16)) AS b) bs)
         |SELECT CAST(bit AS BIGINT) AS bit,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(v) AS BIGINT) AS ones,
         |  CAST(sum(v) * 1000 // count(*) AS BIGINT) AS ones_permille,
         |  CAST(abs(sum(v) * 2000 // count(*) - 1000) AS BIGINT) AS bias_permille
         |FROM bits GROUP BY bit ORDER BY bit""".stripMargin
    },

    "mrr_eval" -> {
      val qvals = Queries25.QuerySet
        .flatMap { case (q, s) => s.split(" ").map(t => s"('$q', '$t')") }.mkString(", ")
      val nvals = Queries25.QuerySet
        .map { case (q, s) => s"('$q', ${s.split(" ").distinct.length})" }.mkString(", ")
      s"""WITH qt(q_id, t) AS (VALUES $qvals),
         |nt(q_id, n_terms) AS (VALUES $nvals),
         |full_rel AS (
         |  SELECT h.q_id, h.doc_id FROM (
         |    SELECT qt.q_id, d.doc_id, count(*) AS hits
         |    FROM (SELECT doc_id, unnest(list_distinct(${TextF.TokensSql})) AS t
         |          FROM documents) d
         |    JOIN qt ON qt.t = d.t GROUP BY 1, 2) h
         |  JOIN nt ON nt.q_id = h.q_id
         |  WHERE h.hits = nt.n_terms),
         |bm AS (${Queries25.oracles("bm25_topk")}),
         |first_rel AS (
         |  SELECT bm.q_id, min(bm.rk) AS first_rel_rank
         |  FROM bm JOIN full_rel ON full_rel.q_id = bm.q_id
         |    AND full_rel.doc_id = bm.doc_id
         |  GROUP BY bm.q_id)
         |SELECT nt.q_id,
         |  CAST(coalesce(first_rel.first_rel_rank, 0) AS BIGINT) AS first_rel_rank,
         |  CAST(coalesce(1000 // first_rel.first_rel_rank, 0) AS BIGINT) AS rr_milli
         |FROM nt LEFT JOIN first_rel ON first_rel.q_id = nt.q_id
         |ORDER BY nt.q_id""".stripMargin
    }
  )
}
