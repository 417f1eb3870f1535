package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #5 — enriched-analytics compositions: the queries the
  * whole engine exists for, where the ENRICHMENT CHAIN and the ANALYTICS
  * ROLLUP fuse into one Catalyst plan (enrich → aggregate with no
  * materialization boundary; the unused enrichment columns prune out of
  * the scan):
  *
  *  - `revenue_by_geo`: converted revenue by enriched geo country — the
  *    canonical "enrich then aggregate" report: IP→geo classification and
  *    currency conversion (both broadcast joins) feed one key-shrinking
  *    rollup; exact integer e8 money end-to-end.
  *  - `campaign_roi`: revenue and reach per enriched marketing campaign
  *    (campaign-attribution's querystring extraction feeding the rollup;
  *    unattributed traffic reported as its own row, not dropped).
  *  - `bot_traffic_share`: per-day bot share of traffic (the IAB
  *    UA-substring + bot-IP classification) — the monitoring read that
  *    sizes how much of "growth" is crawlers; exact milli.
  */
object Queries85 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "revenue_by_geo" -> { (sp, dir) =>
      PipelineQuery.run(sp, dir)
        .groupBy("geo_country")
        .agg(count(lit(1)).as("n_events"), sum("base_amount_e8").as("revenue_e8"))
        .orderBy("geo_country")
    },

    "campaign_roi" -> { (sp, dir) =>
      PipelineQuery.run(sp, dir)
        .select(coalesce(col("mkt_campaign"), lit("(none)")).as("campaign"),
          col("base_amount_e8"))
        .groupBy("campaign")
        .agg(count(lit(1)).as("n_events"), sum("base_amount_e8").as("revenue_e8"))
        .orderBy("campaign")
    },

    "bot_traffic_share" -> { (sp, dir) =>
      val flagged = graft.enrich.IabBotDetection("ua", "ip",
        botIpList = EnrichQueries.IabBotIps)(Synth.withRaw(Tables.events(sp, dir)))
      val daily = flagged
        .select(expr("ts_us div 86400000000").as("day"),
          col("iab_spider_or_robot").cast("int").cast("long").as("is_bot"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_events"), sum("is_bot").as("n_bot"))
      daily.select(col("day"), col("n_events"), col("n_bot"),
          expr("n_bot * 1000 div n_events").as("bot_share_milli"))
        .orderBy("day")
    }
  )

  val oracles: Map[String, String] = {
    val ipnum = "(event_id % 223 + 1) * 16777216 + ((event_id*7) % 256) * 65536" +
      " + ((event_id*13) % 256) * 256 + (event_id*29) % 256"
    val geo = s"CASE WHEN event_id % 9 = 0 THEN NULL ELSE list_extract([" +
      Queries2.GeoCountries.map(c => s"'$c'").mkString(", ") +
      s"], CAST(($ipnum) // 134217728 AS INTEGER) + 1) END"
    val ratesValues = Queries2.Rates.map { case (c, r) => s"('$c', $r)" }.mkString(", ")
    def qsParam(key: String) =
      s"nullif(regexp_extract(nullif(regexp_extract(page_url, '\\?([^#]*)', 1), ''), '(?:^|&)$key=([^&]*)', 1), '')"
    val campaign = s"coalesce(${qsParam("utm_campaign")}, ${qsParam("mkt_campaign")}, '(none)')"
    val uaHit = Seq("bot", "crawler", "spider", "slurp")
      .map(s => s"position('$s' IN lower(ua)) > 0").mkString("(", " OR ", ")")
    val ipHit = s"ip IN (${EnrichQueries.IabBotIps.map(i => s"'$i'").mkString(", ")})"

    Map(
      "revenue_by_geo" -> Synth.withCte(
        s"""SELECT geo_country, CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(sum(amount_cents * rate_micro) AS BIGINT) AS revenue_e8
           |FROM (SELECT event_id, $geo AS geo_country, amount_cents, currency FROM raw) t
           |LEFT JOIN (VALUES $ratesValues) r(cur, rate_micro) ON currency = cur
           |GROUP BY geo_country ORDER BY geo_country""".stripMargin),

      "campaign_roi" -> Synth.withCte(
        s"""SELECT $campaign AS campaign, CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(sum(amount_cents * rate_micro) AS BIGINT) AS revenue_e8
           |FROM raw
           |LEFT JOIN (VALUES $ratesValues) r(cur, rate_micro) ON currency = cur
           |GROUP BY 1 ORDER BY 1""".stripMargin),

      "bot_traffic_share" -> Synth.withCte(
        s"""SELECT ts_us // 86400000000 AS day, CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(sum(CASE WHEN $uaHit OR $ipHit THEN 1 ELSE 0 END) AS BIGINT) AS n_bot,
           |  CAST(sum(CASE WHEN $uaHit OR $ipHit THEN 1 ELSE 0 END) * 1000 // count(*)
           |    AS BIGINT) AS bot_share_milli
           |FROM raw GROUP BY day ORDER BY day""".stripMargin)
    )
  }
}
