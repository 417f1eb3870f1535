package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{EventF, IpF, UaF, UrlF}

/** SURVEY §2.A/§2.B — atomic pipeline + enrichment-registry queries.
  *
  * Each entry has a Spark implementation (pure `Column` kernels from
  * `graft.functions`, single codegen'd projection, no shuffle except where an
  * aggregation is the point) and a byte-equivalent DuckDB oracle built over
  * [[Synth.cte]].
  */
object EnrichQueries extends QuerySet {
  private def raw(spark: SparkSession, dir: String): DataFrame =
    Synth.withRaw(Tables.events(spark, dir))

  private def caseSqlPairs(idxExpr: String, pairs: Seq[(String, String)]): String =
    s"CASE $idxExpr " +
      pairs.map { case (k, v) => s"WHEN '$k' THEN '$v'" }.mkString(" ") +
      " END"

  // shared campaign-attribution config (reference DefaultNetworkMap
  // `CampaignAttributionEnrichment.scala:29` + one custom click id)
  private val MediumParams = Seq("utm_medium", "mkt_medium")
  private val SourceParams = Seq("utm_source", "mkt_source")
  private val TermParams = Seq("utm_term", "q")
  private val ContentParams = Seq("utm_content")
  private val CampaignParams = Seq("utm_campaign", "mkt_campaign")
  private val ClickIdNetworks = Seq("gclid" -> "Google", "msclkid" -> "Microsoft",
    "dclid" -> "DoubleClick", "fbclid" -> "Facebook")

  /** Configured bot-IP exclude list for the iab_bot query (synth IPs of
    * event_ids 3, 100 and 555 — shared verbatim with the oracle). */
  private[queries] val IabBotIps = Seq("4.21.39.87", "101.188.20.84", "110.45.47.223")

  val defs: Map[String, Q] = Map(
    // ---- §2.A ----------------------------------------------------------
    "tp_transform" -> ((sp, dir) =>
      raw(sp, dir).select(
        col("event_id"),
        EventF.eventTypeFromCode(col("event_code")).as("atomic_event"),
        EventF.platformValidate(col("platform_code")).as("platform"),
        EventF.resWidth(col("res")).as("dvce_screenwidth"),
        EventF.resHeight(col("res")).as("dvce_screenheight"),
        IpF.firstForwardedIp(col("xff")).as("user_ipaddress"),
        concat(lit("u"), col("user_id").cast("string")).as("user_id_str")
      ).orderBy("event_id")),

    "event_type_map" -> ((sp, dir) =>
      raw(sp, dir)
        .select(col("event_code"), EventF.eventTypeFromCode(col("event_code")).as("atomic_event"))
        .groupBy("event_code", "atomic_event").agg(count(lit(1)).as("cnt"))
        .orderBy("event_code")),

    "platform_map" -> ((sp, dir) =>
      raw(sp, dir)
        .select(col("platform_code"), EventF.platformValidate(col("platform_code")).as("platform"))
        .groupBy("platform_code", "platform").agg(count(lit(1)).as("cnt"))
        .orderBy("platform_code")),

    "derived_tstamp" -> ((sp, dir) =>
      raw(sp, dir).select(
        col("event_id"),
        col("collector_us"),
        EventF.derivedTstampMicros(col("collector_us"), col("created_us"), col("sent_us"), col("true_us"))
          .as("derived_us")
      ).orderBy("event_id")),

    "client_resolution" -> ((sp, dir) =>
      raw(sp, dir).select(
        col("event_id"), col("res"),
        EventF.resWidth(col("res")).as("width"),
        EventF.resHeight(col("res")).as("height")
      ).orderBy("event_id")),

    "ip_extract" -> ((sp, dir) =>
      raw(sp, dir).select(
        col("event_id"),
        IpF.firstForwardedIp(col("xff")).as("client_ip")
      ).orderBy("event_id")),

    "tsv_safe" -> ((sp, dir) =>
      raw(sp, dir).select(
        col("event_id"),
        EventF.tsvSafe(concat(lit("v"), (col("event_id") % 5).cast("string"), lit("\ta\nb\rc"))).as("safe")
      ).orderBy("event_id")),

    "field_lengths" -> ((sp, dir) =>
      raw(sp, dir).select(
        col("event_id"),
        EventF.truncateField(col("ua"), 40).as("ua_trunc"),
        (length(col("ua")) <= 100).as("ua_fits")
      ).orderBy("event_id")),

    // ---- §2.B ----------------------------------------------------------
    "anon_ip" -> { (sp, dir) =>
      val e = col("event_id")
      // edge universe for the PII kernel: well-formed v4/v6, malformed
      // ::-less v6, mixed notation, empty, separator-free garbage — every
      // class masked (or passed through) exactly as the reference does
      val ipEdge =
        when(e % 6 === 0, col("ip"))
          .when(e % 6 === 1, col("ipv6"))
          .when(e % 6 === 2, lit("4b0c:333"))
          .when(e % 6 === 3, lit("64:ff9b::1.2.3.4"))
          .when(e % 6 === 4, lit(""))
          .otherwise(lit("hello;goodbye"))
      raw(sp, dir).select(
        col("event_id"), col("ip"),
        IpF.anonIp(col("ip"), 2, 4).as("ip_anon"),
        IpF.anonIpv6(col("ipv6"), 4).as("ipv6_anon"),
        IpF.anonIp(ipEdge, 2, 4).as("ip_edge_anon")
      ).orderBy("event_id")
    },

    "campaign_attribution" -> { (sp, dir) =>
      // values form-decoded, as the reference's extractQuerystring does
      // before extractMarketingFields (q=red+shoes → "red shoes").
      // r16: one fused querystring pass (CampaignAttributionExpression)
      // replaces the ~18 per-param regexes; the differential PropertySpec
      // pins kernel == the firstParamDecoded/qsParam cascade for exactly
      // this config.
      val fused = UrlF.campaignParsed(UrlF.urlQuery(col("page_url")),
        UrlF.CampaignCfg(MediumParams, SourceParams, TermParams,
          ContentParams, CampaignParams, ClickIdNetworks))
      raw(sp, dir).select(
        col("event_id"),
        fused.getField("medium").as("mkt_medium"),
        fused.getField("source").as("mkt_source"),
        fused.getField("term").as("mkt_term"),
        fused.getField("content").as("mkt_content"),
        fused.getField("campaign").as("mkt_campaign"),
        fused.getField("clickid").as("mkt_clickid"),
        fused.getField("network").as("mkt_network")
      ).orderBy("event_id")
    },

    "event_fingerprint" -> ((sp, dir) =>
      raw(sp, dir).select(
        col("event_id"),
        EventF.eventFingerprint("md5", Seq(
          "e" -> col("event_code"), "p" -> col("platform_code"),
          "uid" -> col("user_id"), "res" -> col("res"), "url" -> col("page_url")
        )).as("fp_md5"),
        EventF.eventFingerprint("sha256", Seq(
          "e" -> col("event_code"), "uid" -> col("user_id")
        )).as("fp_sha256")
      ).orderBy("event_id")),

    "page_url_parse" -> ((sp, dir) =>
      raw(sp, dir).select(
        col("event_id"),
        UrlF.urlScheme(col("page_url")).as("page_urlscheme"),
        UrlF.urlHost(col("page_url")).as("page_urlhost"),
        UrlF.urlPort(col("page_url")).as("page_urlport"),
        UrlF.urlPath(col("page_url")).as("page_urlpath"),
        UrlF.urlQuery(col("page_url")).as("page_urlquery"),
        UrlF.urlFragment(col("page_url")).as("page_urlfragment")
      ).orderBy("event_id")),

    "ua_classify" -> ((sp, dir) =>
      raw(sp, dir).select(
        col("event_id"),
        UaF.browserFamily(col("ua")).as("br_family"),
        UaF.browserVersion(col("ua")).as("br_version"),
        UaF.osFamily(col("ua")).as("os_family"),
        UaF.osName(col("ua")).as("os_name"),
        UaF.osVersion(col("ua")).as("os_version"),
        UaF.deviceClass(col("ua")).as("dvce_type"),
        UaF.isBot(col("ua")).as("is_bot")
      ).orderBy("event_id")),

    "ua_device_class" -> ((sp, dir) =>
      // classify ONCE, derive is_mobile from the result — isMobile(ua) would
      // re-run the whole regex cascade per row
      raw(sp, dir)
        .select(UaF.deviceClass(col("ua")).as("device_class"))
        .select(col("device_class"), col("device_class").isin("Phone", "Tablet").as("is_mobile"))
        .groupBy("device_class", "is_mobile").agg(count(lit(1)).as("cnt"))
        .orderBy("device_class")),

    "ua_device_model" -> ((sp, dir) =>
      // hardware model + brand (reference registry/YauaaEnrichment.scala
      // deviceBrand/deviceName): model extracted once, brand derived from
      // the materialized column
      raw(sp, dir)
        .select(col("event_id"), UaF.deviceModel(col("ua")).as("dvce_model"))
        .select(col("event_id"), col("dvce_model"),
          UaF.brandOfModel(col("dvce_model")).as("dvce_brand"))
        .orderBy("event_id")),

    "cookie_extract" -> ((sp, dir) =>
      raw(sp, dir).select(
        col("event_id"),
        EventF.cookieValue(col("cookie_hdr"), "sp").as("sp_cookie"),
        EventF.cookieValue(col("cookie_hdr"), "_ga").as("ga_cookie")
      ).orderBy("event_id")),

    "http_header_extract" -> ((sp, dir) =>
      raw(sp, dir).select(
        col("event_id"),
        EventF.headerName(col("header_line")).as("header_name"),
        EventF.headerValue(col("header_line")).as("header_value")
      ).orderBy("event_id")),

    "url_canonicalize" -> { (sp, dir) =>
      // canonical-URL dedup key: tracking params stripped, case/port/path
      // normalized — pages differing only in utm noise group together
      import graft.functions.UrlF
      raw(sp, dir)
        .withColumn("canon", UrlF.canonicalizeUrl(col("page_url")))
        .select(
          col("event_id"), col("canon"),
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("canon"))
            .as("canon_group_size"))
        .orderBy("event_id")
    },

    "iab_bot" -> { (sp, dir) =>
      // the lib IabBotDetection enrichment over the synth universe: UA
      // substring hits plus a configured bot-IP exclude list (reference
      // registry/IabEnrichment.scala checks the IAB bots+spiders files)
      graft.enrich.IabBotDetection("ua", "ip", botIpList = IabBotIps)(raw(sp, dir))
        .select(col("event_id"), col("iab_spider_or_robot"), col("iab_category"))
        .orderBy("event_id")
    },

    "pii_pseudonymize" -> ((sp, dir) =>
      raw(sp, dir).select(
        col("event_id"),
        EventF.pseudonymize(col("user_id"), "pepper").as("user_id_hash"),
        EventF.pseudonymize(col("ip"), "pepper").as("ip_hash")
      ).orderBy("event_id")),

    "cross_navigation" -> ((sp, dir) =>
      raw(sp, dir).select(
        col("event_id"),
        EventF.spDomainUserId(col("sp_qs")).as("refr_domain_userid"),
        EventF.spTstampMs(col("sp_qs")).as("refr_dvce_tstamp_ms")
      ).orderBy("event_id")),

    "event_spec_filter" -> ((sp, dir) =>
      raw(sp, dir)
        .filter(col("event_code").isin("pv", "se"))
        .groupBy("event_code").agg(count(lit(1)).as("cnt"))
        .orderBy("event_code"))
  )

  val oracles: Map[String, String] = {
    val eventTypeCase = caseSqlPairs("event_code", EventF.EventTypeMap)
    val platformCase =
      s"CASE WHEN platform_code IN (${EventF.ValidPlatforms.map(p => s"'$p'").mkString(",")}) THEN platform_code END"
    def qsParamSql(qsExpr: String, key: String): String =
      s"nullif(regexp_extract($qsExpr, '(?:^|&)$key=([^&]*)', 1), '')"
    def firstParamSql(qsExpr: String, keys: Seq[String]): String =
      s"coalesce(${keys.map(qsParamSql(qsExpr, _)).mkString(", ")})"
    val pageQsExpr = raw"nullif(regexp_extract(page_url, '\?([^#]*)', 1), '')"

    Map(
      "tp_transform" -> Synth.withCte(
        s"""SELECT event_id,
           |  $eventTypeCase AS atomic_event,
           |  $platformCase AS platform,
           |  CAST(nullif(regexp_extract(res, '^(\\d+)x(\\d+)$$', 1), '') AS INTEGER) AS dvce_screenwidth,
           |  CAST(nullif(regexp_extract(res, '^(\\d+)x(\\d+)$$', 2), '') AS INTEGER) AS dvce_screenheight,
           |  nullif(regexp_extract(xff, '^([^,| ]*)', 1), '') AS user_ipaddress,
           |  concat('u', user_id) AS user_id_str
           |FROM raw ORDER BY event_id""".stripMargin),

      "event_type_map" -> Synth.withCte(
        s"""SELECT event_code, $eventTypeCase AS atomic_event, count(*) AS cnt
           |FROM raw GROUP BY 1, 2 ORDER BY event_code""".stripMargin),

      "platform_map" -> Synth.withCte(
        s"""SELECT platform_code, $platformCase AS platform, count(*) AS cnt
           |FROM raw GROUP BY 1, 2 ORDER BY platform_code""".stripMargin),

      "derived_tstamp" -> Synth.withCte(
        """SELECT event_id, collector_us,
          |  CASE WHEN true_us IS NOT NULL THEN true_us
          |       WHEN sent_us IS NOT NULL AND created_us IS NOT NULL AND created_us < sent_us
          |         THEN collector_us - (sent_us - created_us)
          |       ELSE collector_us END AS derived_us
          |FROM raw ORDER BY event_id""".stripMargin),

      "client_resolution" -> Synth.withCte(
        """SELECT event_id, res,
          |  CAST(nullif(regexp_extract(res, '^(\d+)x(\d+)$', 1), '') AS INTEGER) AS width,
          |  CAST(nullif(regexp_extract(res, '^(\d+)x(\d+)$', 2), '') AS INTEGER) AS height
          |FROM raw ORDER BY event_id""".stripMargin),

      "ip_extract" -> Synth.withCte(
        """SELECT event_id, nullif(regexp_extract(xff, '^([^,| ]*)', 1), '') AS client_ip
          |FROM raw ORDER BY event_id""".stripMargin),

      "tsv_safe" -> Synth.withCte(
        """SELECT event_id,
          |  regexp_replace(concat('v', event_id % 5, chr(9), 'a', chr(10), 'b', chr(13), 'c'),
          |                 '[\t\n\r]', ' ', 'g') AS safe
          |FROM raw ORDER BY event_id""".stripMargin),

      "field_lengths" -> Synth.withCte(
        """SELECT event_id, substr(ua, 1, 40) AS ua_trunc, length(ua) <= 100 AS ua_fits
          |FROM raw ORDER BY event_id""".stripMargin),

      "anon_ip" -> Synth.withCte(
        """SELECT event_id, ip,
          |  regexp_replace(ip, '^(\d+)\.(\d+)\.\d+\.\d+$', '\1.\2.x.x') AS ip_anon,
          |  regexp_replace(ipv6, '^([^:]+:[^:]+:[^:]+:[^:]+):.*$', '\1:x:x:x:x') AS ipv6_anon,
          |  CASE event_id % 6
          |    WHEN 0 THEN regexp_replace(ip, '^(\d+)\.(\d+)\.\d+\.\d+$', '\1.\2.x.x')
          |    WHEN 1 THEN regexp_replace(ipv6, '^([^:]+:[^:]+:[^:]+:[^:]+):.*$', '\1:x:x:x:x')
          |    WHEN 2 THEN '4b0c:333:x:x:x:x:x:x'
          |    WHEN 3 THEN '64:ff9b:0:0:x:x:x:x'
          |    WHEN 4 THEN ''
          |    ELSE 'hello;goodbye' END AS ip_edge_anon
          |FROM raw ORDER BY event_id""".stripMargin),

      "campaign_attribution" -> {
        // decode parity twin (same restricted-alphabet chain as
        // RefererDb.termSql: the synth universe only emits {+, %20} in
        // campaign param values; Spark uses real try_url_decode)
        def dec(e: String) = s"replace(replace($e, '+', ' '), '%20', ' ')"
        Synth.withCte(
          s"""SELECT event_id,
             |  ${dec(firstParamSql("qs", MediumParams))} AS mkt_medium,
             |  ${dec(firstParamSql("qs", SourceParams))} AS mkt_source,
             |  ${dec(firstParamSql("qs", TermParams))} AS mkt_term,
             |  ${dec(firstParamSql("qs", ContentParams))} AS mkt_content,
             |  ${dec(firstParamSql("qs", CampaignParams))} AS mkt_campaign,
             |  ${dec(s"coalesce(${ClickIdNetworks.map { case (k, _) => qsParamSql("qs", k) }.mkString(", ")})")} AS mkt_clickid,
             |  CASE ${ClickIdNetworks.map { case (k, v) => s"WHEN ${qsParamSql("qs", k)} IS NOT NULL THEN '$v'" }.mkString(" ")} END AS mkt_network
             |FROM (SELECT event_id, $pageQsExpr AS qs FROM raw) ORDER BY event_id""".stripMargin)
      },

      "event_fingerprint" -> Synth.withCte(
        // sorted key order: e, p, res, uid, url — matches the plan-time sort
        """SELECT event_id,
          |  md5(concat(
          |    CASE WHEN event_code IS NULL THEN '' ELSE concat('e', chr(31), event_code, chr(31)) END,
          |    CASE WHEN platform_code IS NULL THEN '' ELSE concat('p', chr(31), platform_code, chr(31)) END,
          |    CASE WHEN res IS NULL THEN '' ELSE concat('res', chr(31), res, chr(31)) END,
          |    CASE WHEN user_id IS NULL THEN '' ELSE concat('uid', chr(31), user_id, chr(31)) END,
          |    CASE WHEN page_url IS NULL THEN '' ELSE concat('url', chr(31), page_url, chr(31)) END
          |  )) AS fp_md5,
          |  sha256(concat(
          |    CASE WHEN event_code IS NULL THEN '' ELSE concat('e', chr(31), event_code, chr(31)) END,
          |    CASE WHEN user_id IS NULL THEN '' ELSE concat('uid', chr(31), user_id, chr(31)) END
          |  )) AS fp_sha256
          |FROM raw ORDER BY event_id""".stripMargin),

      "page_url_parse" -> Synth.withCte(
        """SELECT event_id,
          |  nullif(regexp_extract(page_url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1), '') AS page_urlscheme,
          |  nullif(regexp_extract(page_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1), '') AS page_urlhost,
          |  CAST(coalesce(
          |    nullif(regexp_extract(page_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/:?#]*:([0-9]+)', 1), ''),
          |    CASE nullif(regexp_extract(page_url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1), '')
          |      WHEN 'https' THEN '443' WHEN 'http' THEN '80' END
          |  ) AS INTEGER) AS page_urlport,
          |  nullif(regexp_extract(page_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1), '') AS page_urlpath,
          |  nullif(regexp_extract(page_url, '\?([^#]*)', 1), '') AS page_urlquery,
          |  nullif(regexp_extract(page_url, '#(.*)$', 1), '') AS page_urlfragment
          |FROM raw ORDER BY event_id""".stripMargin),

      "ua_classify" -> Synth.withCte(uaClassifySql("SELECT event_id,\n", "FROM raw ORDER BY event_id")),

      "ua_device_class" -> Synth.withCte(
        s"""SELECT device_class, device_class IN ('Phone','Tablet') AS is_mobile, count(*) AS cnt
           |FROM (SELECT ${deviceClassSql("ua")} AS device_class FROM raw)
           |GROUP BY 1, 2 ORDER BY device_class""".stripMargin),

      "ua_device_model" -> Synth.withCte(
        s"""SELECT event_id, dvce_model, ${UaF.brandOfModelSql("dvce_model")} AS dvce_brand
           |FROM (SELECT event_id, ${UaF.deviceModelSql("ua")} AS dvce_model FROM raw)
           |ORDER BY event_id""".stripMargin),

      "cookie_extract" -> Synth.withCte(
        """SELECT event_id,
          |  nullif(regexp_extract(cookie_hdr, '(?:^|; )sp=([^;]*)', 1), '') AS sp_cookie,
          |  nullif(regexp_extract(cookie_hdr, '(?:^|; )_ga=([^;]*)', 1), '') AS ga_cookie
          |FROM raw ORDER BY event_id""".stripMargin),

      "http_header_extract" -> Synth.withCte(
        """SELECT event_id,
          |  nullif(regexp_extract(header_line, '^([^:]+):', 1), '') AS header_name,
          |  nullif(trim(regexp_extract(header_line, '^[^:]+:(.*)$', 1)), '') AS header_value
          |FROM raw ORDER BY event_id""".stripMargin),

      "url_canonicalize" -> Synth.withCte(
        s"""SELECT event_id, canon, count(*) OVER (PARTITION BY canon) AS canon_group_size
           |FROM (SELECT event_id, ${graft.functions.UrlF.canonicalizeUrlSql("page_url")} AS canon FROM raw) t
           |ORDER BY event_id""".stripMargin),

      "iab_bot" -> {
        val uaHit = Seq("bot", "crawler", "spider", "slurp")
          .map(s => s"position('$s' IN lower(ua)) > 0").mkString("(", " OR ", ")")
        val ipHit = s"ip IN (${IabBotIps.map(i => s"'$i'").mkString(", ")})"
        Synth.withCte(
          s"""SELECT event_id,
             |  ($uaHit OR $ipHit) AS iab_spider_or_robot,
             |  CASE WHEN $ipHit THEN 'BROWSER_IP_EXCLUDED'
             |       WHEN $uaHit THEN 'SPIDER_OR_ROBOT'
             |       ELSE 'BROWSER' END AS iab_category
             |FROM raw ORDER BY event_id""".stripMargin)
      },

      "pii_pseudonymize" -> Synth.withCte(
        """SELECT event_id,
          |  sha256(concat(user_id, 'pepper')) AS user_id_hash,
          |  sha256(concat(ip, 'pepper')) AS ip_hash
          |FROM raw ORDER BY event_id""".stripMargin),

      "cross_navigation" -> Synth.withCte(
        """SELECT event_id,
          |  nullif(regexp_extract(sp_qs, '^([^.]+)\.([0-9]+)$', 1), '') AS refr_domain_userid,
          |  CAST(nullif(regexp_extract(sp_qs, '^([^.]+)\.([0-9]+)$', 2), '') AS BIGINT) AS refr_dvce_tstamp_ms
          |FROM raw ORDER BY event_id""".stripMargin),

      "event_spec_filter" -> Synth.withCte(
        """SELECT event_code, count(*) AS cnt FROM raw
          |WHERE event_code IN ('pv', 'se') GROUP BY 1 ORDER BY event_code""".stripMargin)
    )
  }

  /** SQL twins generated from the UaF rule tables (one source of truth). */
  private def deviceClassSql(ua: String): String = UaF.deviceClassSql(ua)

  private def uaClassifySql(prefix: String, suffix: String): String =
    s"""$prefix
       |  ${UaF.brFamilySql("ua")} AS br_family,
       |  ${UaF.brVersionSql("ua")} AS br_version,
       |  ${UaF.osFamilySql("ua")} AS os_family,
       |  ${UaF.osNameSql("ua")} AS os_name,
       |  ${UaF.osVersionSql("ua")} AS os_version,
       |  ${UaF.deviceClassSql("ua")} AS dvce_type,
       |  ${UaF.isBotSql("ua")} AS is_bot
       |$suffix""".stripMargin
}
