package graft.queries

import org.apache.spark.sql.functions._

/** Round-9 batch #25 — two more enriched-composition reports (the
  * revenue_by_geo family): both fuse the flagship enrichment chain and a
  * key-shrinking rollup into ONE Catalyst plan (scan-bound at 100 TB; the
  * enrichment is a codegen'd narrow stage + broadcast joins), and both
  * read the chain's own DuckDB CTE (`PipelineQuery.EnrichedCteSql`), so
  * the report means exactly what the pipeline means:
  *
  *  - `traffic_medium_share`: events and converted revenue by enriched
  *    referer medium (direct traffic = the chain's NULL medium, reported
  *    as its own row) — the acquisition-mix read next to campaign_roi.
  *  - `device_mix_report`: the browser-family × device-class grid with
  *    corpus share — the client-mix read the UA enrichments exist for.
  */
object Queries105 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "traffic_medium_share" -> { (sp, dir) =>
      val g = PipelineQuery.run(sp, dir)
        .groupBy(coalesce(col("refr_medium"), lit("(direct)")).as("medium"))
        .agg(count(lit(1)).as("n_events"), sum("base_amount_e8").as("revenue_e8"))
      val tot = g.agg(sum("n_events").as("total"))
      g.crossJoin(broadcast(tot))
        .select(col("medium"), col("n_events"), col("revenue_e8"),
          expr("n_events * 1000 div total").as("share_milli"))
        .orderBy("medium")
    },

    "device_mix_report" -> { (sp, dir) =>
      val g = PipelineQuery.run(sp, dir)
        .groupBy(coalesce(col("br_family"), lit("(unknown)")).as("br_family"),
          coalesce(col("dvce_type"), lit("(unknown)")).as("dvce_type"))
        .agg(count(lit(1)).as("n_events"))
      val tot = g.agg(sum("n_events").as("total"))
      g.crossJoin(broadcast(tot))
        .select(col("br_family"), col("dvce_type"), col("n_events"),
          expr("n_events * 1000 div total").as("share_milli"))
        .orderBy("br_family", "dvce_type")
    }
  )

  val oracles: Map[String, String] = Map(
    "traffic_medium_share" ->
      s"""WITH ${PipelineQuery.EnrichedCteSql},
         |g AS (
         |  SELECT coalesce(refr_medium, '(direct)') AS medium,
         |    CAST(count(*) AS BIGINT) AS n_events,
         |    CAST(sum(base_amount_e8) AS BIGINT) AS revenue_e8
         |  FROM enriched GROUP BY 1
         |), tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS total FROM g)
         |SELECT g.medium, g.n_events, g.revenue_e8,
         |  CAST(g.n_events * 1000 // t.total AS BIGINT) AS share_milli
         |FROM g, tot t ORDER BY g.medium""".stripMargin,

    "device_mix_report" ->
      s"""WITH ${PipelineQuery.EnrichedCteSql},
         |g AS (
         |  SELECT coalesce(br_family, '(unknown)') AS br_family,
         |    coalesce(dvce_type, '(unknown)') AS dvce_type,
         |    CAST(count(*) AS BIGINT) AS n_events
         |  FROM enriched GROUP BY 1, 2
         |), tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS total FROM g)
         |SELECT g.br_family, g.dvce_type, g.n_events,
         |  CAST(g.n_events * 1000 // t.total AS BIGINT) AS share_milli
         |FROM g, tot t ORDER BY g.br_family, g.dvce_type""".stripMargin
  )
}
