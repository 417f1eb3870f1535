package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{EventF, IpF, RefF, UrlF}
import graft.operators.{AsOfJoin, RangeJoin}

/** SURVEY §2 batch 2: lookup-style enrichments re-expressed as joins
  * (currency broadcast join, IP range join, weather as-of join, API/SQL
  * lookup join), referer classification, the loader/adapter/output surface
  * (collector TSV round-trip, webhook JSON, enriched TSV line), and the
  * JS-script escape hatch.
  */
object Queries2 extends QuerySet {
  private[queries] def raw(spark: SparkSession, dir: String): DataFrame =
    Synth.withRaw(Tables.events(spark, dir))

  /** Internal domains for referer classification (reference: the
    * `internalDomains` parameter of referer_parser). */
  val InternalDomains: Seq[String] = Seq("internal.example.com", "shop.example.com")

  /** FX micro-rates to USD (deterministic dim — the reference fetches Open
    * Exchange Rates per day; graft joins a rates dimension instead). */
  val Rates: Seq[(String, Long)] =
    Seq("USD" -> 1000000L, "EUR" -> 1080000L, "GBP" -> 1270000L, "JPY" -> 6700L)

  /** Day range of the (currency, day)-keyed temporal rates dim (covers the
    * whole events corpus with margin). */
  val RateDayLo = 19700L
  val RateDayHi = 19800L

  /** 32 geo "countries", one per aligned 2^27-wide IPv4 block. */
  val GeoCountries: Seq[String] = Seq(
    "US", "CN", "IN", "BR", "RU", "JP", "DE", "GB", "FR", "IT", "CA", "AU", "ES", "MX", "KR", "ID",
    "NL", "SA", "TR", "CH", "PL", "SE", "BE", "AR", "NO", "AT", "AE", "DK", "SG", "MY", "IL", "HK")

  private[queries] val BlockWidth = 134217728L // 2^27

  val defs: Map[String, Q] = Map(
    "referer_parse" -> { (sp, dir) =>
      raw(sp, dir).select(
        col("event_id"),
        RefF.refererMedium(col("refr_url"), col("page_url"), InternalDomains).as("refr_medium"),
        RefF.refererSource(col("refr_url"), col("page_url"), InternalDomains).as("refr_source"),
        RefF.refererTerm(col("refr_url"), col("page_url"), InternalDomains).as("refr_term")
      ).orderBy("event_id")
    },

    "currency_conversion" -> { (sp, dir) =>
      import sp.implicits._
      // TEMPORAL rates: the reference converts at the event date
      // (CurrencyConversionEnrichment.scala:150, one OER rate per day) —
      // graft joins a (currency, day)-keyed broadcast dim with a
      // deterministic per-day rate formula shared with the oracle
      val curs = Seq("USD", "EUR", "GBP", "JPY").toDF("cur")
      val rates = broadcast(
        sp.range(RateDayLo, RateDayHi).select(col("id").as("day")).crossJoin(curs)
          .withColumn("rate_micro",
            when(col("cur") === "USD", lit(1000000L))
              .when(col("cur") === "EUR", lit(1050000L) + (col("day") * 7919) % 60000)
              .when(col("cur") === "GBP", lit(1240000L) + (col("day") * 104729) % 60000)
              .otherwise(lit(6500L) + (col("day") * 31) % 400)))
      raw(sp, dir)
        .withColumn("ev_day", expr("collector_us div 86400000000"))
        .join(rates, col("currency") === col("cur") && col("ev_day") === col("day"), "left")
        .select(
          col("event_id"), col("currency"), col("amount_cents"), col("rate_micro"),
          (col("amount_cents") * col("rate_micro")).as("base_amount_e8"))
        .orderBy("event_id")
    },

    "ip_geo_lookup" -> { (sp, dir) =>
      import sp.implicits._
      val ranges = GeoCountries.zipWithIndex
        .map { case (cc, i) => (i * BlockWidth, i * BlockWidth + BlockWidth - 1, cc) }
        .toDF("lo", "hi", "geo_country")
      val facts = raw(sp, dir).withColumn("ipnum", IpF.ipv4ToLong(col("ip")))
      RangeJoin.leftJoinRanges(facts, col("ipnum"), ranges, "lo", "hi", bucketBits = 27)
        .select(col("event_id"), col("ipnum"), col("geo_country"))
        .orderBy("event_id")
    },

    "weather_asof" -> { (sp, dir) =>
      // the observation dim lives in Queries19 (one definition; its native
      // twin weather_asof_native must stay row-identical to this query)
      val obs = Queries19.weatherObs(sp)
      val ev = Tables.events(sp, dir)
        .select(col("event_id"), (col("user_id") % 10).as("station"), col("ts_us"))
      AsOfJoin.leftAsOf(ev, obs, Seq("station"), "ts_us", "obs_us", Seq("temp_dd"))
        .select(col("event_id"), col("station"), col("temp_dd"))
        .orderBy("event_id")
    },

    "api_lookup_join" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
      val cust = Tables.customer(sp, dir)
      val nat = broadcast(Tables.nation(sp, dir))
      ev.join(cust, col("user_id") === col("c_custkey"), "left")
        .join(nat, col("c_nationkey") === col("n_nationkey"), "left")
        .select(col("event_id"), col("c_name"), col("c_mktsegment"), col("n_name"))
        .orderBy("event_id")
    },

    "collector_tsv_parse" -> { (sp, dir) =>
      val line = concat_ws("\t",
        col("collector_us").cast("string"), col("ip"), col("ua"), col("page_url"), col("event_code"))
      raw(sp, dir)
        .withColumn("line", line)
        .select(
          col("event_id"),
          element_at(split(col("line"), "\t"), 1).cast("bigint").as("p_collector_us"),
          element_at(split(col("line"), "\t"), 2).as("p_ip"),
          element_at(split(col("line"), "\t"), 5).as("p_event_code"),
          md5(col("line").cast("binary")).as("line_md5"))
        .orderBy("event_id")
    },

    "qs_parse" -> { (sp, dir) =>
      val qs = UrlF.urlQuery(col("page_url"))
      raw(sp, dir).select(
        col("event_id"),
        when(qs.isNull, lit(0)).otherwise(size(split(qs, "&"))).as("n_params"),
        UrlF.qsParam(qs, "utm_source").as("p_utm_source"),
        UrlF.qsParam(qs, "q").as("p_q"),
        UrlF.qsParam(qs, "page").as("p_page")
      ).orderBy("event_id")
    },

    "adapter_json" -> { (sp, dir) =>
      val payload = concat(
        lit("{\"type\":\""), col("event_type"),
        lit("\",\"fired_at\":"), col("collector_us").cast("string"),
        lit(",\"data\":{\"email\":\"u"), col("user_id").cast("string"),
        lit("@example.com\",\"score\":"), (col("event_id") % 100).cast("string"),
        lit("}}"))
      raw(sp, dir)
        .withColumn("payload", payload)
        .select(
          col("event_id"),
          get_json_object(col("payload"), "$.type").as("a_type"),
          get_json_object(col("payload"), "$.data.email").as("a_email"),
          get_json_object(col("payload"), "$.data.score").cast("bigint").as("a_score"))
        .orderBy("event_id")
    },

    "enriched_tsv_out" -> { (sp, dir) =>
      // the reference's TSV line (outputs/EnrichedEvent tab-separated mode):
      // widened across the atomic field groups — event, time, ip, page,
      // marketing, browser, device — nulls as empty fields
      import graft.functions.UaF
      val derived = EventF.derivedTstampMicros(
        col("collector_us"), col("created_us"), col("sent_us"), col("true_us"))
      val pageQs = UrlF.urlQuery(col("page_url"))
      val line = concat_ws("\t",
        coalesce(EventF.eventTypeFromCode(col("event_code")), lit("")),
        coalesce(EventF.platformValidate(col("platform_code")), lit("")),
        col("collector_us").cast("string"),
        derived.cast("string"),
        IpF.anonIp(col("ip"), 2, 4),
        coalesce(UrlF.urlHost(col("page_url")), lit("")),
        coalesce(UrlF.urlPath(col("page_url")), lit("")),
        coalesce(UrlF.firstParam(pageQs, Seq("utm_source", "mkt_source")), lit("")),
        UaF.browserFamily(col("ua")),
        coalesce(UaF.browserVersion(col("ua")), lit("")),
        UaF.deviceClass(col("ua")))
      raw(sp, dir)
        .select(col("event_id"), line.as("tsv_line"), md5(line.cast("binary")).as("line_md5"))
        .orderBy("event_id")
    },

    "custom_transform" -> { (sp, dir) =>
      // the reference's JavascriptScriptEnrichment escape hatch, renamed
      // honestly: graft's hook is an arbitrary user-supplied Scala
      // DataFrame => DataFrame function (CustomTransform), not embedded
      // JavaScript -- no JS engine ships in this environment
      val hook: DataFrame => DataFrame = df =>
        df.withColumn("score", (col("amount_cents") % 100 + col("user_id") % 7).cast("bigint"))
      raw(sp, dir)
        .transform(hook)
        .select(col("event_id"), col("score"))
        .orderBy("event_id")
    }
  )

  val oracles: Map[String, String] = {
    val refrHost = "nullif(regexp_extract(refr_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1), '')"
    val pageHost = "nullif(regexp_extract(page_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1), '')"
    val refrQs = raw"nullif(regexp_extract(refr_url, '\?([^#]*)', 1), '')"
    val internalSql = InternalDomains.map(d => s"'$d'").mkString(", ")
    val isInternal = s"(rh = ph OR rh IN ($internalSql))"
    val refrPath = raw"coalesce(nullif(regexp_extract(refr_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1), ''), '')"

    val eventTypeCase = "CASE event_code " +
      EventF.EventTypeMap.map { case (k, v) => s"WHEN '$k' THEN '$v'" }.mkString(" ") + " END"
    val platformCase =
      s"CASE WHEN platform_code IN (${EventF.ValidPlatforms.map(p => s"'$p'").mkString(",")}) THEN platform_code END"
    val anonIpSql = raw"regexp_replace(ip, '^(\d+)\.(\d+)\.\d+\.\d+$$', '\1.\2.x.x')"

    Map(
      "referer_parse" ->
        s"""WITH rdb(key, sidx) AS (VALUES ${graft.functions.RefererDb.rdbValuesSql}),
           |rsrc(sidx, medium, source, params) AS (VALUES ${graft.functions.RefererDb.rsrcValuesSql}),
           |raw AS (
           |${Synth.cte}
           |),
           |base AS (
           |  SELECT event_id, $refrHost AS rh, $pageHost AS ph, $refrQs AS rq, $refrPath AS rpath
           |  FROM raw),
           |cand AS (
           |  SELECT event_id, unnest(cands) AS key, generate_subscripts(cands, 1) AS prio
           |  FROM (SELECT event_id, ${graft.functions.RefererDb.candidatesSql("rh", "rpath")} AS cands
           |        FROM base WHERE rh IS NOT NULL) c),
           |hit AS (
           |  SELECT c.event_id, arg_min(r.sidx, c.prio) AS sidx
           |  FROM cand c JOIN rdb r ON c.key = r.key GROUP BY c.event_id)
           |SELECT b.event_id,
           |  CASE WHEN b.rh IS NULL THEN NULL
           |       WHEN $isInternal THEN 'internal'
           |       WHEN s.medium IS NOT NULL THEN s.medium ELSE 'unknown' END AS refr_medium,
           |  CASE WHEN b.rh IS NULL OR $isInternal THEN NULL ELSE s.source END AS refr_source,
           |  CASE WHEN b.rh IS NULL OR $isInternal OR s.params IS NULL OR s.params = '' THEN NULL
           |       ELSE ${graft.functions.RefererDb.termSql("b.rq", "s.params")} END AS refr_term
           |FROM base b
           |LEFT JOIN hit h ON b.event_id = h.event_id
           |LEFT JOIN rsrc s ON h.sidx = s.sidx
           |ORDER BY b.event_id""".stripMargin,

      "currency_conversion" -> Synth.withCte(
        s"""SELECT event_id, currency, amount_cents, rate_micro,
           |  amount_cents * rate_micro AS base_amount_e8
           |FROM raw LEFT JOIN (
           |  SELECT d, cur,
           |    CASE cur WHEN 'USD' THEN 1000000
           |             WHEN 'EUR' THEN 1050000 + (d * 7919) % 60000
           |             WHEN 'GBP' THEN 1240000 + (d * 104729) % 60000
           |             ELSE 6500 + (d * 31) % 400 END AS rate_micro
           |  FROM range($RateDayLo, $RateDayHi) t(d)
           |  CROSS JOIN (VALUES ('USD'), ('EUR'), ('GBP'), ('JPY')) c(cur)
           |) rates ON currency = cur AND collector_us // 86400000000 = d
           |ORDER BY event_id""".stripMargin),

      "ip_geo_lookup" -> Synth.withCte(
        s"""SELECT event_id, ipnum,
           |  list_extract([${GeoCountries.map(c => s"'$c'").mkString(", ")}], CAST(ipnum // $BlockWidth AS INTEGER) + 1) AS geo_country
           |FROM (
           |  SELECT event_id,
           |    (event_id % 223 + 1) * 16777216 + ((event_id*7) % 256) * 65536
           |      + ((event_id*13) % 256) * 256 + (event_id*29) % 256 AS ipnum
           |  FROM raw) t ORDER BY event_id""".stripMargin),

      "weather_asof" ->
        s"""WITH ${Queries19.WeatherObsCteSql}, ev AS (
           |  SELECT event_id, user_id % 10 AS station, epoch_us(ts) AS ts_us FROM events
           |)
           |SELECT ev.event_id, ev.station, obs.temp_dd
           |FROM ev ASOF LEFT JOIN obs
           |  ON ev.station = obs.station AND obs.obs_us <= ev.ts_us
           |ORDER BY ev.event_id""".stripMargin,

      "api_lookup_join" ->
        """SELECT event_id, c_name, c_mktsegment, n_name
          |FROM events
          |LEFT JOIN customer ON user_id = c_custkey
          |LEFT JOIN nation ON c_nationkey = n_nationkey
          |ORDER BY event_id""".stripMargin,

      "collector_tsv_parse" -> Synth.withCte(
        """SELECT event_id,
          |  CAST(list_extract(string_split(line, chr(9)), 1) AS BIGINT) AS p_collector_us,
          |  list_extract(string_split(line, chr(9)), 2) AS p_ip,
          |  list_extract(string_split(line, chr(9)), 5) AS p_event_code,
          |  md5(line) AS line_md5
          |FROM (
          |  SELECT event_id,
          |    concat_ws(chr(9), collector_us, ip, ua, page_url, event_code) AS line
          |  FROM raw) t ORDER BY event_id""".stripMargin),

      "qs_parse" -> Synth.withCte(
        raw"""SELECT event_id,
           |  CASE WHEN qs IS NULL THEN 0 ELSE len(string_split(qs, '&')) END AS n_params,
           |  nullif(regexp_extract(qs, '(?:^|&)utm_source=([^&]*)', 1), '') AS p_utm_source,
           |  nullif(regexp_extract(qs, '(?:^|&)q=([^&]*)', 1), '') AS p_q,
           |  nullif(regexp_extract(qs, '(?:^|&)page=([^&]*)', 1), '') AS p_page
           |FROM (SELECT event_id, nullif(regexp_extract(page_url, '\?([^#]*)', 1), '') AS qs FROM raw) t
           |ORDER BY event_id""".stripMargin),

      "adapter_json" -> Synth.withCte(
        """SELECT event_id,
          |  json_extract_string(payload, '$.type') AS a_type,
          |  json_extract_string(payload, '$.data.email') AS a_email,
          |  CAST(json_extract_string(payload, '$.data.score') AS BIGINT) AS a_score
          |FROM (
          |  SELECT event_id,
          |    concat('{"type":"', event_type, '","fired_at":', collector_us,
          |           ',"data":{"email":"u', user_id, '@example.com","score":', event_id % 100, '}}') AS payload
          |  FROM raw) t ORDER BY event_id""".stripMargin),

      "enriched_tsv_out" -> {
        import graft.functions.UaF
        val derived =
          """CASE WHEN true_us IS NOT NULL THEN true_us
            |     WHEN sent_us IS NOT NULL AND created_us IS NOT NULL AND created_us < sent_us
            |       THEN collector_us - (sent_us - created_us)
            |     ELSE collector_us END""".stripMargin
        val pageHostE = "nullif(regexp_extract(page_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1), '')"
        val pagePathE = "nullif(regexp_extract(page_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1), '')"
        val pageQsE = raw"nullif(regexp_extract(page_url, '\?([^#]*)', 1), '')"
        def qsParam(key: String) =
          s"nullif(regexp_extract($pageQsE, '(?:^|&)$key=([^&]*)', 1), '')"
        Synth.withCte(
          s"""SELECT event_id, line AS tsv_line, md5(line) AS line_md5
             |FROM (
             |  SELECT event_id,
             |    concat_ws(chr(9),
             |      coalesce($eventTypeCase, ''),
             |      coalesce($platformCase, ''),
             |      collector_us,
             |      $derived,
             |      $anonIpSql,
             |      coalesce($pageHostE, ''),
             |      coalesce($pagePathE, ''),
             |      coalesce(coalesce(${qsParam("utm_source")}, ${qsParam("mkt_source")}), ''),
             |      ${UaF.brFamilySql("ua")},
             |      coalesce(${UaF.brVersionSql("ua")}, ''),
             |      ${UaF.deviceClassSql("ua")}) AS line
             |  FROM raw) t ORDER BY event_id""".stripMargin)
      },

      "custom_transform" -> Synth.withCte(
        """SELECT event_id, CAST(amount_cents % 100 + user_id % 7 AS BIGINT) AS score
          |FROM raw ORDER BY event_id""".stripMargin)
    )
  }
}
