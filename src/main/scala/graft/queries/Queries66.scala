package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-8 continuation #38 — the per-source scorecard and SCD2 dwell time:
  *
  *  - `source_scorecard`: the ingest scorecard every data-sourcing team
  *    reviews per supplier — per source: corpus-gate pass rate, exact-dup
  *    rate, benchmark-contamination count, and token mass, ALL from the
  *    production relations (`corpusGated`, the dedup fingerprint window,
  *    `contaminatedDocs` — and their shared SQL twins), so the scorecard
  *    can never disagree with the gates it summarizes. One wide report
  *    from key-shrinking joins on doc_id.
  *  - `scd2_dwell`: how long entities stay in each state — per tier:
  *    closed-interval count, total and mean dwell days (exact milli), and
  *    the open-row count; layered on `scd2_dim`'s oracle-checked interval
  *    table on BOTH engines (the oracle composes the same SQL).
  */
object Queries66 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "source_scorecard" -> { (sp, dir) =>
      val docs = Tables.documents(sp, dir)
        .withColumn("fp", TextF.docFingerprint(col("text")))
        .withColumn("keeper", min("doc_id").over(Window.partitionBy("fp")))
        .withColumn("n_tokens", TextF.tokenCount(col("text")).cast("bigint"))
      val gatedIds = Queries10.corpusGated(sp, dir).select(col("doc_id"), lit(1L).as("gated"))
      val contamIds = Queries10.contaminatedDocs(sp, dir)
        .select(col("doc_id"), lit(1L).as("contam"))
      docs
        .join(gatedIds, Seq("doc_id"), "left")
        .join(contamIds, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("gated"), lit(0L))).as("n_gated"),
          sum(when(col("doc_id") =!= col("keeper"), 1L).otherwise(0L)).as("n_dup_docs"),
          sum(coalesce(col("contam"), lit(0L))).as("n_contaminated"),
          sum("n_tokens").as("total_tokens"))
        .select(col("source"), col("n_docs"), col("n_gated"),
          expr("n_gated * 1000 div n_docs").as("gate_pass_milli"),
          col("n_dup_docs"), expr("n_dup_docs * 1000 div n_docs").as("dup_rate_milli"),
          col("n_contaminated"), col("total_tokens"))
        .orderBy("source")
    },

    "scd2_dwell" -> { (sp, dir) =>
      val dim = Queries29.defs("scd2_dim")(sp, dir)
      dim.groupBy(col("tier"))
        .agg(
          sum(when(col("valid_to_us").isNotNull, 1L).otherwise(0L)).as("n_closed"),
          sum(when(col("valid_to_us").isNotNull,
            expr(s"(valid_to_us - valid_from_us) div $DayUs")).otherwise(0L))
            .as("total_dwell_days"),
          sum(when(col("valid_to_us").isNull, 1L).otherwise(0L)).as("n_open"))
        .select(col("tier"), col("n_closed"), col("total_dwell_days"),
          when(col("n_closed") > 0,
            expr("total_dwell_days * 1000 div n_closed")).otherwise(lit(0L))
            .as("mean_dwell_milli_days"),
          col("n_open"))
        .orderBy("tier")
    }
  )

  val oracles: Map[String, String] = Map(
    "source_scorecard" ->
      s"""WITH gated AS (
         |${Queries10.CorpusGatedSql}
         |),
         |${Queries10.ContaminatedCteSql},
         |base AS (
         |  SELECT doc_id, source,
         |    CASE WHEN ${TextF.NormalizeTextSql} = ''
         |         THEN 0 ELSE len(${TextF.TokensSql}) END AS n_tokens,
         |    min(doc_id) OVER (PARTITION BY md5(${TextF.NormalizeTextSql})) AS keeper
         |  FROM documents
         |)
         |SELECT b.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN g.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_gated,
         |  CAST(sum(CASE WHEN g.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 1000
         |    // count(*) AS BIGINT) AS gate_pass_milli,
         |  CAST(sum(CASE WHEN b.doc_id <> b.keeper THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_docs,
         |  CAST(sum(CASE WHEN b.doc_id <> b.keeper THEN 1 ELSE 0 END) * 1000
         |    // count(*) AS BIGINT) AS dup_rate_milli,
         |  CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_contaminated,
         |  CAST(sum(b.n_tokens) AS BIGINT) AS total_tokens
         |FROM base b
         |LEFT JOIN gated g ON g.doc_id = b.doc_id
         |LEFT JOIN contaminated c ON c.doc_id = b.doc_id
         |GROUP BY b.source ORDER BY b.source""".stripMargin,

    "scd2_dwell" ->
      s"""WITH dim AS (
         |${Queries29.oracles("scd2_dim")}
         |)
         |SELECT tier,
         |  CAST(sum(CASE WHEN valid_to_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_closed,
         |  CAST(sum(CASE WHEN valid_to_us IS NOT NULL
         |       THEN (valid_to_us - valid_from_us) // $DayUs ELSE 0 END) AS BIGINT)
         |    AS total_dwell_days,
         |  CAST(CASE WHEN sum(CASE WHEN valid_to_us IS NOT NULL THEN 1 ELSE 0 END) > 0
         |       THEN sum(CASE WHEN valid_to_us IS NOT NULL
         |            THEN (valid_to_us - valid_from_us) // $DayUs ELSE 0 END) * 1000
         |            // sum(CASE WHEN valid_to_us IS NOT NULL THEN 1 ELSE 0 END)
         |       ELSE 0 END AS BIGINT) AS mean_dwell_milli_days,
         |  CAST(sum(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_open
         |FROM dim GROUP BY tier ORDER BY tier""".stripMargin
  )
}
