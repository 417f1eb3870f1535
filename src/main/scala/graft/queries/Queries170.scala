package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-12 batch #13 — context-schema operations and dedup economics:
  *
  *  - `context_schema_census`: which self-describing context schemas ride
  *    on events, at what volume — per Iglu schema URI: occurrence count,
  *    event reach, and share per-mille over the synthetic contexts array
  *    (the same planted universe contexts_validate validates; reference
  *    utils/IgluUtils.scala extracts these envelopes). The registry-ops
  *    read that catches a tracker rollout shifting schema versions. One
  *    regexp extraction + explode + key-shrinking rollup.
  *  - `dedup_bytes_saved`: the storage economics of keep-first exact
  *    dedup — per source: bytes before/after and saved per-mille (what
  *    the dedup pass is literally worth in shard storage; pairs with
  *    dedup_source_bias's fairness read over the same keeper set).
  *    Fingerprint window + two rollups, text never shuffles.
  */
object Queries170 extends QuerySet {
  private val SchemaRe = "\"schema\":\"(iglu:[^\"]+)\""

  val defs: Map[String, Q] = Map(
    "context_schema_census" -> { (sp, dir) =>
      val total = Tables.events(sp, dir).count() // plan-time scalar
      Tables.events(sp, dir)
        .select(col("event_id"),
          Queries8.plantedContexts(col("event_id")).as("contexts"))
        .select(col("event_id"),
          explode(regexp_extract_all(col("contexts"), lit(SchemaRe), lit(1))).as("schema_uri"))
        .groupBy("schema_uri")
        .agg(count(lit(1)).as("n_contexts"),
          countDistinct(col("event_id")).as("n_events"))
        .withColumn("event_reach_pm", expr(s"n_events * 1000 div $total"))
        .orderBy("schema_uri")
    },

    "dedup_bytes_saved" -> { (sp, dir) =>
      val keys = Tables.documents(sp, dir).select(col("source"), col("doc_id"),
        length(col("text")).cast("long").as("bytes"),
        TextF.docFingerprint(col("text")).as("fp"))
      val kept = keys.withColumn("rk",
          row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
        .filter(col("rk") === 1)
      val before = keys.groupBy("source")
        .agg(count(lit(1)).as("docs_before"), sum("bytes").as("bytes_before"))
      val after = kept.groupBy("source")
        .agg(count(lit(1)).as("docs_after"), sum("bytes").as("bytes_after"))
      before.join(after, "source")
        .withColumn("saved_pm",
          expr("(bytes_before - bytes_after) * 1000 div bytes_before"))
        .orderBy("source")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "context_schema_census" -> Synth.withCte(
      s"""SELECT schema_uri, CAST(count(*) AS BIGINT) AS n_contexts,
         |  CAST(count(DISTINCT event_id) AS BIGINT) AS n_events,
         |  CAST(count(DISTINCT event_id) * 1000 // (SELECT count(*) FROM events)
         |    AS BIGINT) AS event_reach_pm
         |FROM (
         |  SELECT event_id,
         |    unnest(regexp_extract_all(contexts, '$SchemaRe', 1)) AS schema_uri
         |  FROM (${Queries8.ContextsRelSql}) ctx) t
         |GROUP BY schema_uri ORDER BY schema_uri""".stripMargin),

    "dedup_bytes_saved" -> {
      val norm = TextF.NormalizeTextSql
      s"""WITH keys AS (
         |  SELECT source, doc_id, CAST(length(text) AS BIGINT) AS bytes,
         |    md5($norm) AS fp
         |  FROM documents),
         |kept AS (
         |  SELECT source, bytes FROM (
         |    SELECT source, bytes,
         |      row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
         |    FROM keys) t WHERE rk = 1),
         |b AS (SELECT source, CAST(count(*) AS BIGINT) AS docs_before,
         |        CAST(sum(bytes) AS BIGINT) AS bytes_before FROM keys GROUP BY 1),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS docs_after,
         |        CAST(sum(bytes) AS BIGINT) AS bytes_after FROM kept GROUP BY 1)
         |SELECT b.source, b.docs_before, b.bytes_before, a.docs_after, a.bytes_after,
         |  CAST((b.bytes_before - a.bytes_after) * 1000 // b.bytes_before AS BIGINT)
         |    AS saved_pm
         |FROM b JOIN a ON a.source = b.source ORDER BY b.source""".stripMargin
    }
  )
}
