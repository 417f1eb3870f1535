package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.enrich.EnrichmentConfig

/** The reference's OWN config directory must drop in: every file under its
  * `config/enrichments` parses, the self-contained enrichments map, the
  * data-backed ones are reported with instructive reasons — and the
  * base64-embedded sample JavaScript runs through graft's interpreter with
  * the reference's semantics. */
class ReferenceConfigSpec extends SparkSpec {

  private val dir = Paths.get("/root/reference/config/enrichments")

  /** An `asn_lookups` config in the reference's layout: inline bot ASNs,
    * a bypassed platform and a file-backed bot list. */
  private val AsnLookupsCfg =
    """{"schema": "iglu:com.snowplowanalytics.snowplow.enrichments/asn_lookups/jsonschema/1-0-0",
      | "data": {"name": "asn_lookups", "vendor": "com.snowplowanalytics.snowplow.enrichments",
      |   "enabled": true, "parameters": {
      |     "botAsns": [{"asn": 123}, {"asn": 456}],
      |     "bypassPlatforms": ["srv"],
      |     "botAsnsFile": {"database": "bad-asn-list.csv", "uri": "http://assets.example.com/asn"}}}}""".stripMargin

  /** The reference's `ip_lookups` config: one MaxMind city database. */
  private val IpLookupsCfg =
    """{"schema": "iglu:com.snowplowanalytics.snowplow/ip_lookups/jsonschema/2-0-0",
      | "data": {"name": "ip_lookups", "vendor": "com.snowplowanalytics.snowplow",
      |   "enabled": true, "parameters": {
      |     "geo": {"database": "GeoLite2-City.mmdb", "uri": "http://assets.example.com/maxmind"}}}}""".stripMargin

  /** The reference's `currency_conversion_config`, shipped disabled. */
  private val CurrencyCfg =
    """{"schema": "iglu:com.snowplowanalytics.snowplow/currency_conversion_config/jsonschema/1-0-0",
      | "data": {"name": "currency_conversion_config", "vendor": "com.snowplowanalytics.snowplow",
      |   "enabled": false, "parameters": {
      |     "accountType": "DEVELOPER", "apiKey": "{{KEY}}",
      |     "baseCurrency": "USD", "rateAt": "EOD_PRIOR"}}}""".stripMargin

  /** The reference's `weather_enrichment_config`, shipped disabled. */
  private val WeatherCfg =
    """{"schema": "iglu:com.snowplowanalytics.snowplow.enrichments/weather_enrichment_config/jsonschema/1-0-0",
      | "data": {"name": "weather_enrichment_config", "vendor": "com.snowplowanalytics.snowplow.enrichments",
      |   "enabled": false, "parameters": {
      |     "apiKey": "{{KEY}}", "cacheSize": 5100, "geoPrecision": 1,
      |     "apiHost": "history.openweathermap.org", "timeout": 5}}}""".stripMargin

  /** The reference's sample JavaScript enrichment: server-side events must
    * carry the app id `secret`, and the script returns one context with the
    * upper-cased app id. */
  private val SampleJs =
    """function process(event) {
      |  var appId = event.getApp_id();
      |  var platform = event.getPlatform();
      |  if (platform == "server" && appId != "secret") {
      |    throw "Server-side event has invalid app_id: " + appId;
      |  }
      |  if (appId == null) {
      |    return [];
      |  }
      |  var appIdUpper = appId.toUpperCase();
      |  return [ { schema: "iglu:com.acme/foo/jsonschema/1-0-0",
      |             data:  { appIdUpper: appIdUpper } } ];
      |}""".stripMargin

  /** The reference's `javascript_script_config`, shipped disabled, with the
    * script base64url-encoded in `parameters.script`. */
  private val JsCfg =
    s"""{"schema": "iglu:com.snowplowanalytics.snowplow/javascript_script_config/jsonschema/1-0-0",
       | "data": {"name": "javascript_script_config", "vendor": "com.snowplowanalytics.snowplow",
       |   "enabled": false, "parameters": {"script": "$SampleJsB64"}}}""".stripMargin
  private def SampleJsB64 = java.util.Base64.getUrlEncoder.encodeToString(SampleJs.getBytes("UTF-8"))

  private def allConfigs: Seq[String] =
    Files.list(dir).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".json")).sortBy(_.toString)
      .map(p => new String(Files.readAllBytes(p), "UTF-8"))

  test("every reference config file parses; enabled self-contained ones map") {
    assume(Files.isDirectory(dir))
    val (pipeline, skipped) = EnrichmentConfig.fromReferenceConfigs(allConfigs)
    val names = pipeline.enrichments.map(_.name)
    // enabled + self-contained → mapped
    assert(names.contains("anon_ip"))
    assert(names.contains("campaign_attribution"))
    assert(names.contains("cookie_extractor"))
    assert(names.contains("bot_detection"))
    assert(names.contains("event_fingerprint"))
    assert(names.contains("pii_pseudonymize"))
    // r11: the strategy (SHA-1 + salt) is plumbed, and the json entry's
    // trailing bracket list expands onto the named document column
    val pii = pipeline.enrichments.collectFirst { case x: graft.enrich.PiiPseudonymize => x }.get
    assert(pii.salt == "pepper123" && pii.hashFunction == "SHA-1")
    val piiJson = pipeline.enrichments.collectFirst { case x: graft.enrich.PiiJsonFields => x }.get
    assert(piiJson.jsonCol == "unstruct_event")
    assert(piiJson.paths == Seq("$.clientId", "$.userId"))
    assert(piiJson.hashFunction == "SHA-1")
    assert(names.contains("referer_parser"))
    assert(names.contains("ua_parser"))
    // disabled entries are reported, not silently dropped
    assert(skipped.exists { case (n, r) => n == "javascript_script_config" && r == "disabled" })
    // data-backed entries name their graft replacement + injection point
    assert(skipped.exists { case (n, r) =>
      n == "ip_lookups" && r.contains("geoDims") && r.contains("IpGeoLookup") })
    // asn_lookups configures a botAsnsFile: without the injected CSV set the
    // WHOLE entry skips (a partial inline-only flag would misclassify
    // file-only ASNs as not-bot), with guidance naming the injection point
    assert(!names.contains("asn_bot_flag"))
    assert(skipped.exists { case (n, r) => n == "asn_lookups" && r.contains("asnBotLists") })
    assert(skipped.exists { case (n, r) => n == "currency_conversion_config" && r == "disabled" })
    // nothing fell through unmapped
    assert(!skipped.exists(_._2 == "no graft mapping"), skipped.mkString(", "))
  }

  test("ip_lookups/currency constructs LIVE when ranges/rates dims are injected") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("cfg-dims")
    val geoPath = tmp.resolve("geo").toString
    Seq((16777216L, 16777471L, "AU"), (3221225472L, 3221225727L, "DE"))
      .toDF("lo", "hi", "geo_country").write.parquet(geoPath)
    val ratesPath = tmp.resolve("rates").toString
    Seq(("EUR", 1100000L), ("USD", 1000000L))
      .toDF("cur", "rate_micro").write.parquet(ratesPath)

    val curCfg = CurrencyCfg.replace("\"enabled\": false", "\"enabled\": true")
    val (pipe, skipped) = EnrichmentConfig.fromReferenceConfigs(
      Seq(IpLookupsCfg, curCfg),
      geoDims = Map("GeoLite2-City.mmdb" -> geoPath),
      ratesDims = Map("USD" -> ratesPath))
    assert(pipe.enrichments.map(_.name).toSet == Set("ip_geo_lookup", "currency_conversion"))
    assert(skipped.isEmpty, skipped.mkString(", "))

    val df = Seq(("1.0.0.5", "EUR", 200L), ("9.9.9.9", "USD", 100L))
      .toDF("user_ipaddress", "currency", "amount_cents")
    val out = pipe.run(df).orderBy("amount_cents").collect()
    assert(out(0).getAs[String]("geo_country") == null) // 9.9.9.9 outside ranges
    assert(out(0).getAs[Long]("base_amount_e8") == 100L * 1000000L)
    assert(out(1).getAs[String]("geo_country") == "AU")
    assert(out(1).getAs[Long]("base_amount_e8") == 200L * 1100000L)
  }

  test("ip_lookups isp/domain/connection segments construct via injected dims (r12)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("cfg-isp")
    val ispPath = tmp.resolve("isp").toString
    Seq((16777216L, 16777471L, "Acme Fiber")).toDF("lo", "hi", "ip_isp").write.parquet(ispPath)
    val cfg =
      """{"schema": "iglu:com.snowplowanalytics.snowplow/ip_lookups/jsonschema/2-0-1",
        | "data": {"name": "ip_lookups", "vendor": "com.snowplowanalytics.snowplow",
        |   "enabled": true, "parameters": {
        |     "isp": {"database": "GeoIP2-ISP.mmdb", "uri": "http://assets.example.com/maxmind"},
        |     "connection": {"database": "GeoIP2-Connection-Type.mmdb", "uri": "http://assets.example.com/maxmind"}}}}""".stripMargin
    // connection has no injected dim → named skip; isp constructs live
    val (pipe, skipped) = EnrichmentConfig.fromReferenceConfigs(Seq(cfg),
      geoDims = Map("GeoIP2-ISP.mmdb" -> ispPath))
    assert(pipe.enrichments.map(_.name) == Seq("ip_isp_lookup"))
    assert(skipped.exists { case (n, r) =>
      n == "ip_lookups" && r.contains("connection database 'GeoIP2-Connection-Type.mmdb'") })
    val out = pipe.run(Seq(("1.0.0.5", 1L), ("9.9.9.9", 2L)).toDF("user_ipaddress", "id"))
      .orderBy("id").collect()
    assert(out(0).getAs[String]("ip_isp") == "Acme Fiber")
    assert(out(1).getAs[String]("ip_isp") == null)
  }

  test("weather config constructs an as-of join over an injected observations dim") {
    import spark.implicits._
    val obsPath = java.nio.file.Files.createTempDirectory("cfg-weather").resolve("obs").toString
    // one grid cell (52.0, 13.0) at geoPrecision 1, two observations
    Seq((52.0, 13.0, 1000L, 18.5, "clear"), (52.0, 13.0, 5000L, 21.0, "clouds"))
      .toDF("lat_r", "lon_r", "obs_ts_us", "temp_c", "conditions").write.parquet(obsPath)
    val cfg = WeatherCfg.replace("\"enabled\": false", "\"enabled\": true")
    // no injection → named skip; injected → live pipeline
    val (_, s0) = EnrichmentConfig.fromReferenceConfigs(Seq(cfg))
    assert(s0.exists { case (n, r) => n == "weather_enrichment_config" && r.contains("weatherDims") })
    val (pipe, s1) = EnrichmentConfig.fromReferenceConfigs(Seq(cfg),
      weatherDims = Map("history.openweathermap.org" -> obsPath))
    assert(s1.isEmpty && pipe.enrichments.map(_.name) == Seq("weather"))
    def d(v: Double): java.lang.Double = java.lang.Double.valueOf(v)
    val events = Seq(
      (d(52.04), d(12.96), 3000L, 1L), // rounds into the cell; as-of picks the 1000 obs
      (d(52.04), d(12.96), 6000L, 2L), // picks the 5000 obs
      (d(52.04), d(12.96), 500L, 3L),  // before any obs → null
      (null.asInstanceOf[java.lang.Double], null.asInstanceOf[java.lang.Double], 6000L, 4L)
    ).toDF("geo_latitude", "geo_longitude", "derived_tstamp_us", "id")
    val rows = pipe.run(events).orderBy("id").collect()
    assert(rows(0).getAs[Double]("temp_c") == 18.5 && rows(0).getAs[String]("conditions") == "clear")
    assert(rows(1).getAs[Double]("temp_c") == 21.0)
    assert(rows(2).isNullAt(rows(2).fieldIndex("temp_c")))
    assert(rows(3).isNullAt(rows(3).fieldIndex("temp_c")), "null coordinates → null weather")
  }

  test("asn_lookups: injected CSV set merges with inline list (csvAsns ++ botAsns)") {
    import spark.implicits._
    val (pipe, skipped) = EnrichmentConfig.fromReferenceConfigs(Seq(AsnLookupsCfg),
      asnBotLists = Map("bad-asn-list.csv" -> Set(789L)))
    assert(skipped.isEmpty, skipped.mkString(", "))
    val bot = pipe.enrichments.collectFirst { case b: graft.enrich.AsnBotFlag => b }.get
    assert(bot.botAsns == Set(123L, 456L, 789L))
    assert(bot.bypassPlatforms == Set("srv"))
    val df = Seq(
      (java.lang.Long.valueOf(123L), "web", 1L),
      (java.lang.Long.valueOf(999L), "web", 2L),
      (null.asInstanceOf[java.lang.Long], "web", 3L), // no ASN matched → false
      (java.lang.Long.valueOf(123L), "srv", 4L) // bypassed → null
    ).toDF("ip_asn", "platform", "id")
    val rows = bot(df).orderBy("id").collect()
    assert(rows(0).getAs[Boolean]("asn_likely_bot"))
    assert(!rows(1).getAs[Boolean]("asn_likely_bot"))
    assert(!rows(2).getAs[Boolean]("asn_likely_bot"))
    assert(rows(3).isNullAt(rows(3).fieldIndex("asn_likely_bot")))
  }

  test("asn_bot_flag orders after ip_asn_lookup regardless of config-file order") {
    import spark.implicits._
    val geoPath = java.nio.file.Files.createTempDirectory("cfg-order").resolve("asn").toString
    Seq((16777216L, 16777471L, 123L, "Bot AS"), (3221225472L, 3221225727L, 777L, "Clean AS"))
      .toDF("lo", "hi", "ip_asn", "ip_organization").write.parquet(geoPath)
    val ipCfg =
      """{"schema": "iglu:com.snowplowanalytics.snowplow/ip_lookups/jsonschema/2-0-1",
        | "data": {"name": "ip_lookups", "vendor": "com.snowplowanalytics.snowplow",
        |   "enabled": true, "parameters": {
        |     "asn": {"database": "GeoLite2-ASN.mmdb", "uri": "http://assets.example.com/maxmind"}}}}""".stripMargin
    // asn_lookups FIRST in the file order — the flag must still see ip_asn
    val (pipe, _) = EnrichmentConfig.fromReferenceConfigs(Seq(AsnLookupsCfg, ipCfg),
      geoDims = Map("GeoLite2-ASN.mmdb" -> geoPath),
      asnBotLists = Map("bad-asn-list.csv" -> Set.empty[Long]))
    assert(pipe.enrichments.map(_.name) == Seq("ip_asn_lookup", "asn_bot_flag"))
    val out = pipe.run(Seq(("1.0.0.5", "web", 1L), ("192.0.0.10", "web", 2L))
      .toDF("user_ipaddress", "platform", "id")).orderBy("id").collect()
    assert(out(0).getAs[Boolean]("asn_likely_bot"), "ASN 123 is on the config's bot list")
    assert(!out(1).getAs[Boolean]("asn_likely_bot"))
  }

  test("the reference's embedded sample JS script runs with reference semantics") {
    import spark.implicits._
    // force-enable the javascript config so it maps, then run its script
    val enabled = JsCfg.replace("\"enabled\": false", "\"enabled\": true")
    val (pipeline, _) = EnrichmentConfig.fromReferenceConfigs(Seq(enabled))
    assert(pipeline.enrichments.map(_.name) == Seq("js_transform"))
    val df = Seq(
      ("server", "secret", 1L), // passes the guard → context with upper-cased app id
      ("web", null.asInstanceOf[String], 2L), // null app id → no contexts
      ("server", "leaky", 3L) // reference script THROWS on this combination
    ).toDF("platform", "app_id", "id")
    val rows = pipeline.run(df).orderBy("id").collect()
    assert(rows(0).getAs[String]("js_contexts")
      .contains("\"appIdUpper\":\"SECRET\""))
    assert(rows(0).getAs[String]("js_error") == null)
    assert(rows(1).getAs[String]("js_contexts") == "[]")
    val err = rows(2).getAs[String]("js_error")
    assert(err != null && err.contains("Server-side event has invalid app_id: leaky"))
  }
}
