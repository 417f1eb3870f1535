package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.enrich.EnrichmentPipeline
import graft.functions.EventF

/** The flagship: the whole default enrichment chain
  * ([[graft.enrich.EnrichmentPipeline.default]]) over raw collector columns,
  * projected to atomic fields — with its DuckDB oracle assembled from the
  * same shared constants as the per-enrichment oracles.
  *
  * Plan shape at 100 TB: one codegen'd projection over the scan; the geo
  * ranges and the rates are lookup kernels, not joins. No exchange.
  */
object PipelineQuery extends QuerySet {
  def geoRanges: Seq[(Long, Long, String)] =
    Queries2.GeoCountries.zipWithIndex.map { case (cc, i) =>
      (i * 134217728L, i * 134217728L + 134217727L, cc)
    }

  def pipeline: EnrichmentPipeline =
    EnrichmentPipeline.default(Queries2.InternalDomains, Queries2.Rates, geoRanges)

  def run(sp: SparkSession, dir: String): DataFrame =
    pipeline.run(Synth.withRaw(Tables.events(sp, dir)))

  val defs: Map[String, Q] = Map(
    "enrich_pipeline" -> { (sp, dir) =>
      run(sp, dir).select(
        col("event_id"),
        col("event"),
        col("platform"),
        col("derived_tstamp_us"),
        col("user_ipaddress"),
        col("page_urlhost"),
        col("mkt_source"),
        col("mkt_campaign"),
        col("refr_medium"),
        col("br_family"),
        col("dvce_type"),
        col("geo_country"),
        col("base_amount_e8"),
        col("user_id").as("user_id_hash"),
        col("event_fingerprint"),
        size(col("bad_row_errors")).as("n_errors"),
        // the structured failure entities (enrichment|failure_type|message
        // per entity, ';'-joined in append order) — hash-checked against
        // the oracle's reconstruction, so entity CONTENT is exact, not
        // just the count
        array_join(transform(col("bad_row_errors"), e =>
          concat(e.getField("enrichment"), lit("|"), e.getField("failure_type"),
            lit("|"), e.getField("message"))), ";").as("err_entities")
      ).orderBy("event_id")
    }
  )

  /** The flagship oracle's whole enrichment chain as a CTE list ending at
    * `enriched` — `enrich_pipeline` selects it verbatim; the composition
    * reports (revenue_by_geo family, traffic/device mix) reuse it. */
  private[queries] lazy val EnrichedCteSql: String = {
      val eventTypeCase = "CASE event_code " +
        EventF.EventTypeMap.map { case (k, v) => s"WHEN '$k' THEN '$v'" }.mkString(" ") + " END"
      val platformCase =
        s"CASE WHEN platform_code IN (${EventF.ValidPlatforms.map(p => s"'$p'").mkString(",")}) THEN platform_code END"
      val derived =
        """CASE WHEN true_us IS NOT NULL THEN true_us
          |     WHEN sent_us IS NOT NULL AND created_us IS NOT NULL AND created_us < sent_us
          |       THEN collector_us - (sent_us - created_us)
          |     ELSE collector_us END""".stripMargin
      val anonIpSql =
        raw"""CASE WHEN event_id % 9 = 0
             |     THEN regexp_replace(ipv6, '^([^:]+:[^:]+:[^:]+:[^:]+):.*$$', '\1:x:x:x:x')
             |     ELSE regexp_replace(ip, '^(\d+)\.(\d+)\.\d+\.\d+$$', '\1.\2.x.x') END""".stripMargin
      val pageHost = "nullif(regexp_extract(page_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1), '')"
      val refrHost = "nullif(regexp_extract(refr_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1), '')"
      val pageQsE = raw"nullif(regexp_extract(page_url, '\?([^#]*)', 1), '')"
      def qsParam(qsExpr: String, key: String) =
        s"nullif(regexp_extract($qsExpr, '(?:^|&)$key=([^&]*)', 1), '')"
      val mktSource = s"coalesce(${qsParam("pq", "utm_source")}, ${qsParam("pq", "mkt_source")})"
      val mktCampaign = s"coalesce(${qsParam("pq", "utm_campaign")}, ${qsParam("pq", "mkt_campaign")})"
      val internalSql = Queries2.InternalDomains.map(d => s"'$d'").mkString(", ")
      val refrPath = raw"coalesce(nullif(regexp_extract(refr_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1), ''), '')"
      val refrMedium =
        s"""CASE WHEN rh IS NULL THEN NULL
           |     WHEN rh = ph OR rh IN ($internalSql) THEN 'internal'
           |     WHEN s.medium IS NOT NULL THEN s.medium ELSE 'unknown' END""".stripMargin
      val brFamily = graft.functions.UaF.brFamilySql("ua")
      val dvceType = graft.functions.UaF.deviceClassSql("ua")
      val ipnum = "(event_id % 223 + 1) * 16777216 + ((event_id*7) % 256) * 65536 + ((event_id*13) % 256) * 256 + (event_id*29) % 256"
      // IPv6 clients (event_id % 9 = 0: xff leads with the v6 address) have
      // no v4 geo mapping → NULL country, and mask as v6
      val geo = s"CASE WHEN event_id % 9 = 0 THEN NULL ELSE list_extract([${Queries2.GeoCountries.map(c => s"'$c'").mkString(", ")}], CAST(($ipnum) // 134217728 AS INTEGER) + 1) END"
      val fp =
        """md5(concat(
          |  CASE WHEN event_code IS NULL THEN '' ELSE concat('event_code', chr(31), event_code, chr(31)) END,
          |  CASE WHEN platform_code IS NULL THEN '' ELSE concat('platform_code', chr(31), platform_code, chr(31)) END,
          |  CASE WHEN res IS NULL THEN '' ELSE concat('res', chr(31), res, chr(31)) END))""".stripMargin
      val nErrors =
        "(CASE WHEN event_code IS NOT NULL AND " + eventTypeCase + " IS NULL THEN 1 ELSE 0 END) + " +
          "(CASE WHEN platform_code IS NOT NULL AND " + platformCase + " IS NULL THEN 1 ELSE 0 END)"
      val evtFail = s"(event_code IS NOT NULL AND $eventTypeCase IS NULL)"
      val platFail = s"(platform_code IS NOT NULL AND $platformCase IS NULL)"
      val evtEnt = "tracker_transform|enrichment_failure|unknown event code"
      val platEnt = "tracker_transform|enrichment_failure|invalid platform"
      val errEntities =
        s"""CASE WHEN $evtFail AND $platFail THEN '$evtEnt;$platEnt'
           |     WHEN $evtFail THEN '$evtEnt'
           |     WHEN $platFail THEN '$platEnt'
           |     ELSE '' END""".stripMargin
      val ratesValues = Queries2.Rates.map { case (c, r) => s"('$c', $r)" }.mkString(", ")

      s"""rdb(key, sidx) AS (VALUES ${graft.functions.RefererDb.rdbValuesSql}),
         |rsrc(sidx, medium, source, params) AS (VALUES ${graft.functions.RefererDb.rsrcValuesSql}),
         |raw AS (
         |${Synth.cte}
         |),
         |t AS (SELECT raw.*, $pageHost AS ph, $refrHost AS rh, $pageQsE AS pq, $refrPath AS rpath FROM raw),
         |cand AS (
         |  SELECT event_id, unnest(cands) AS key, generate_subscripts(cands, 1) AS prio
         |  FROM (SELECT event_id, ${graft.functions.RefererDb.candidatesSql("rh", "rpath")} AS cands
         |        FROM t WHERE rh IS NOT NULL) c),
         |hit AS (
         |  SELECT c.event_id AS eid, arg_min(r.sidx, c.prio) AS sidx
         |  FROM cand c JOIN rdb r ON c.key = r.key GROUP BY c.event_id),
         |""".stripMargin +
        s"""enriched AS (SELECT event_id,
           |  $eventTypeCase AS event,
           |  $platformCase AS platform,
           |  $derived AS derived_tstamp_us,
           |  $anonIpSql AS user_ipaddress,
           |  ph AS page_urlhost,
           |  $mktSource AS mkt_source,
           |  $mktCampaign AS mkt_campaign,
           |  $refrMedium AS refr_medium,
           |  $brFamily AS br_family,
           |  $dvceType AS dvce_type,
           |  $geo AS geo_country,
           |  amount_cents * rate_micro AS base_amount_e8,
           |  sha256(concat(user_id, 'pepper')) AS user_id_hash,
           |  $fp AS event_fingerprint,
           |  $nErrors AS n_errors,
           |  $errEntities AS err_entities
           |FROM t
           |LEFT JOIN hit ON t.event_id = hit.eid
           |LEFT JOIN rsrc s ON hit.sidx = s.sidx
           |LEFT JOIN (VALUES $ratesValues) r(cur, rate_micro) ON currency = cur)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "enrich_pipeline" ->
      s"""WITH $EnrichedCteSql
         |SELECT * FROM enriched ORDER BY event_id""".stripMargin
  )
}
