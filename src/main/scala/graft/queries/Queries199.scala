package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-14 batch #14 — enrichment-composition monitors:
  *
  *  - `bot_diurnal_pattern`: bot share by hour of day (the IAB
  *    UA-substring + bot-IP classification) — crawlers don't sleep, so a
  *    flat curve against a diurnal human baseline is the fleet-health
  *    read; 24-row clock.
  *  - `clickid_network_share`: paid-click coverage by ad network (gclid /
  *    fbclid / msclkid ... → network), reusing the campaign-attribution
  *    enrichment verbatim — the acquisition-spend audit.
  *  - `geo_mix_drift`: quantized-PSI drift of the enriched geo_country mix,
  *    first vs second half of the calendar (the full-chain composition
  *    twin of `psi_drift` — the monitoring read that catches a geo
  *    routing/lookup regression).
  */
object Queries199 extends QuerySet {
  private val DayUs = 86400000000L
  private val HourUs = 3600000000L

  val defs: Map[String, Q] = Map(
    "bot_diurnal_pattern" -> { (sp, dir) =>
      val flagged = graft.enrich.IabBotDetection("ua", "ip",
        botIpList = EnrichQueries.IabBotIps)(Synth.withRaw(Tables.events(sp, dir)))
      flagged
        .select(expr(s"(ts_us div $HourUs) % 24").as("hour"),
          col("iab_spider_or_robot").cast("int").cast("long").as("is_bot"))
        .groupBy("hour")
        .agg(count(lit(1)).as("n_events"), sum("is_bot").as("n_bot"))
        .select(col("hour"), col("n_events"), col("n_bot"),
          expr("n_bot * 1000 div n_events").as("bot_pm"))
        .orderBy("hour")
    },

    "clickid_network_share" -> { (sp, dir) =>
      val attributed = EnrichQueries.defs("campaign_attribution")(sp, dir)
      val g = attributed
        .groupBy(coalesce(col("mkt_network"), lit("(none)")).as("network"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("mkt_clickid").isNotNull, 1L).otherwise(0L)).as("n_with_clickid"))
      val tot = g.agg(sum("n_events").as("total"))
      g.crossJoin(broadcast(tot))
        .select(col("network"), col("n_events"), col("n_with_clickid"),
          expr("n_events * 1000 div total").as("share_pm"))
        .orderBy("network")
    },

    "geo_mix_drift" -> { (sp, dir) =>
      val ev = PipelineQuery.run(sp, dir)
        .select(expr(s"ts_us div $DayUs").as("day"),
          coalesce(col("geo_country"), lit("(unknown)")).as("geo"))
      val split = ev.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
      val banded = ev.crossJoin(broadcast(split))
        .groupBy("geo")
        .agg(sum(when(col("day") < col("mid"), 1L).otherwise(0L)).as("a"),
          sum(when(col("day") >= col("mid"), 1L).otherwise(0L)).as("b"))
      val tot = banded.agg(sum("a").as("na"), sum("b").as("nb"))
      banded.crossJoin(broadcast(tot))
        .select(col("geo"), col("a"), col("b"),
          expr("a * 1000 div na").as("p_pm"),
          expr("b * 1000 div nb").as("q_pm"),
          expr("""(a * 1000 div na - b * 1000 div nb) *
                  ((length(bin(greatest(a, 1) * nb)) - 1) -
                   (length(bin(greatest(b, 1) * na)) - 1))""").as("psi_contrib_qmilli"))
        .orderBy("geo")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = {
    val uaHit = Seq("bot", "crawler", "spider", "slurp")
      .map(s => s"position('$s' IN lower(ua)) > 0").mkString("(", " OR ", ")")
    val ipHit = s"ip IN (${EnrichQueries.IabBotIps.map(i => s"'$i'").mkString(", ")})"

    Map(
      "bot_diurnal_pattern" -> Synth.withCte(
        s"""SELECT (ts_us // $HourUs) % 24 AS hour,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(sum(CASE WHEN $uaHit OR $ipHit THEN 1 ELSE 0 END) AS BIGINT) AS n_bot,
           |  CAST(sum(CASE WHEN $uaHit OR $ipHit THEN 1 ELSE 0 END) * 1000 // count(*)
           |    AS BIGINT) AS bot_pm
           |FROM raw GROUP BY hour ORDER BY hour""".stripMargin),

      "clickid_network_share" ->
        s"""WITH base AS (
           |${EnrichQueries.oracles("campaign_attribution")}
           |),
           |g AS (
           |  SELECT coalesce(mkt_network, '(none)') AS network,
           |    CAST(count(*) AS BIGINT) AS n_events,
           |    CAST(sum(CASE WHEN mkt_clickid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_with_clickid
           |  FROM base GROUP BY 1),
           |tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS total FROM g)
           |SELECT network, n_events, n_with_clickid,
           |  CAST(n_events * 1000 // total AS BIGINT) AS share_pm
           |FROM g CROSS JOIN tot ORDER BY network""".stripMargin,

      "geo_mix_drift" ->
        s"""WITH ${PipelineQuery.EnrichedCteSql},
           |ev AS (
           |  SELECT raw.ts_us // $DayUs AS day,
           |    coalesce(e.geo_country, '(unknown)') AS geo
           |  FROM raw JOIN enriched e ON raw.event_id = e.event_id),
           |sp AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM ev),
           |banded AS (
           |  SELECT geo,
           |    CAST(sum(CASE WHEN day < mid THEN 1 ELSE 0 END) AS BIGINT) AS a,
           |    CAST(sum(CASE WHEN day >= mid THEN 1 ELSE 0 END) AS BIGINT) AS b
           |  FROM ev CROSS JOIN sp GROUP BY 1),
           |tot AS (SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb FROM banded)
           |SELECT geo, a, b,
           |  CAST(a * 1000 // na AS BIGINT) AS p_pm,
           |  CAST(b * 1000 // nb AS BIGINT) AS q_pm,
           |  CAST((a * 1000 // na - b * 1000 // nb) *
           |    ((length(bin(greatest(a, 1) * nb)) - 1) -
           |     (length(bin(greatest(b, 1) * na)) - 1)) AS BIGINT) AS psi_contrib_qmilli
           |FROM banded CROSS JOIN tot ORDER BY geo""".stripMargin
    )
  }
}
