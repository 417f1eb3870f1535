package graft.enrich

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Config-driven pipeline construction — the Spark twin of the reference's
  * JSON enrichment configs (`enrichments/EnrichmentRegistry.parse`, which
  * assembles the registry from per-enrichment self-describing JSONs).
  *
  * {{{
  * val pipeline = EnrichmentConfig.fromJson("""{
  *   "enrichments": [
  *     {"name": "tracker_transform"},
  *     {"name": "anon_ip", "octets": 2, "segments": 4},
  *     {"name": "campaign_attribution"},
  *     {"name": "referer_parser", "internalDomains": ["internal.example.com"]},
  *     {"name": "event_fingerprint", "algorithm": "md5", "params": ["event_code", "res"]}
  *   ]
  * }""")
  * }}}
  *
  * Unknown enrichment names fail fast with the supported list (the
  * reference's ValidatedNel parse errors). Uses Spark's bundled Jackson —
  * no extra dependency.
  */
object EnrichmentConfig {

  /** What the api_request live path needs injected per URI template (a
    * config file cannot carry a client): the resolved-URL transport and
    * the Spark DDL of the `output.json` root's fields. */
  final case class ApiLive(
    transport: String => Option[String],
    outputSchemaDdl: String,
    cachePath: String = null)

  private val mapper = new ObjectMapper()

  def fromJson(json: String): EnrichmentPipeline = {
    val root = mapper.readTree(json)
    val list = Option(root.get("enrichments"))
      .getOrElse(throw new IllegalArgumentException("config needs an 'enrichments' array"))
    EnrichmentPipeline(list.elements().asScala.map(parseOne).toSeq)
  }

  private def strs(n: JsonNode, field: String, default: Seq[String] = Nil): Seq[String] =
    Option(n.get(field)).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(default)

  private def int(n: JsonNode, field: String, default: Int): Int =
    Option(n.get(field)).map(_.asInt()).getOrElse(default)

  private def str(n: JsonNode, field: String, default: String): String =
    Option(n.get(field)).map(_.asText()).getOrElse(default)

  /** Accept the reference's own per-enrichment config files verbatim — the
    * self-describing `{"schema": "iglu:…/X/jsonschema/…", "data": {"name":
    * …, "enabled": …, "parameters": {…}}}` shape every snowplow/enrich
    * deployment already has on disk (the JSON files under the reference's
    * `config/enrichments` directory, parsed by each registry enrichment's
    * `parse`). Drop the directory in;
    * get back the mapped pipeline plus an explicit (name, reason) list of
    * everything that did NOT map: disabled entries, and enrichments whose
    * external databases (MaxMind, OER rates, IAB files) cannot ship inside
    * a config — those need the native shape with inline/parquet dims.
    */
  def fromReferenceConfigs(
    jsons: Seq[String],
    /** Live JDBC injection for `sql_query_enrichment_config`, keyed by the
      * config's `database.postgresql.database` name — a JSON file cannot
      * carry a connection, so deployments supply the factory + output DDL
      * here (the ApiLookup transport pattern). No entry → skipped, as
      * before. */
    sqlLive: Map[String, SqlQueryLookup.Live] = Map.empty,
    /** Live HTTP injection for `api_request_enrichment_config`, keyed by
      * the config's `api.http.uri` TEMPLATE verbatim. The transport takes
      * the fully resolved URL (production: wrap
      * `IgluResolver.RemoteResolver.httpTransport()` — add the config's
      * auth as headers there); the DDL describes the response fields the
      * `output.json.jsonPath` root carries. No entry → skipped. */
    apiLive: Map[String, EnrichmentConfig.ApiLive] = Map.empty,
    /** Parquet ranges dims for `ip_lookups`, keyed by the config's MaxMind
      * database FILENAME (geo: lo/hi/geo_country columns; asn:
      * lo/hi/ip_asn/ip_organization). Export the mmdb once, inject the
      * path. No entry → that segment skips with guidance. */
    geoDims: Map[String, String] = Map.empty,
    /** Parquet per-day rates dims for `currency_conversion_config`, keyed
      * by the config's baseCurrency (cur STRING, rate_micro BIGINT). */
    ratesDims: Map[String, String] = Map.empty,
    /** Parquet observation dims for `weather_enrichment_config`, keyed by
      * the config's apiHost (lat_r/lon_r/obs_ts_us + value columns). */
    weatherDims: Map[String, String] = Map.empty,
    /** Materialized bot-ASN lists for `asn_lookups`, keyed by the config's
      * `botAsnsFile` URI. The reference MERGES the file's CSV ASNs with the
      * inline `botAsns` list (AsnLookupsEnrichment.create: csvAsns ++
      * botAsns); with a file configured but no injected set the WHOLE entry
      * skips — a partial (inline-only) flag would silently classify
      * file-only ASNs as not-bot. */
    asnBotLists: Map[String, Set[Long]] = Map.empty
  ): (EnrichmentPipeline, Seq[(String, String)]) = {
    val mapped = scala.collection.mutable.Buffer[Enrichment]()
    val skipped = scala.collection.mutable.Buffer[(String, String)]()
    jsons.foreach { j =>
      val root = mapper.readTree(j)
      val data = Option(root.get("data"))
        .getOrElse(throw new IllegalArgumentException("reference config needs a 'data' object"))
      val name = Option(data.get("name")).map(_.asText())
        .getOrElse(throw new IllegalArgumentException("reference config needs data.name"))
      val enabled = Option(data.get("enabled")).forall(_.asBoolean())
      val p = Option(data.get("parameters")).getOrElse(mapper.createObjectNode())
      def fields(field: String): Seq[String] = strs(p, field)
      if (!enabled) skipped += ((name, "disabled"))
      else name match {
        case "anon_ip" =>
          mapped += AnonIp(octets = int(p, "anonOctets", 2), segments = int(p, "anonSegments", 4))
        case "javascript_script_config" =>
          val script = new String(
            java.util.Base64.getUrlDecoder.decode(str(p, "script", "")),
            java.nio.charset.StandardCharsets.UTF_8)
          mapped += graft.js.JsTransform(script,
            paramsJson = Option(p.get("config")).map(_.toString).getOrElse("{}"))
        case "campaign_attribution" =>
          val f = Option(p.get("fields")).getOrElse(mapper.createObjectNode())
          def or(node: JsonNode, field: String, d: Seq[String]) = {
            val v = strs(node, field); if (v.isEmpty) d else v
          }
          mapped += CampaignAttribution(
            mediumParams = or(f, "mktMedium", Seq("utm_medium")),
            sourceParams = or(f, "mktSource", Seq("utm_source")),
            termParams = or(f, "mktTerm", Seq("utm_term")),
            contentParams = or(f, "mktContent", Seq("utm_content")),
            campaignParams = or(f, "mktCampaign", Seq("utm_campaign")))
        case "event_fingerprint_config" =>
          // the reference excludes params from the raw map; the column
          // engine fingerprints named columns — algorithm maps, the field
          // set stays graft's atomic default
          mapped += EventFingerprint(str(p, "hashAlgorithm", "MD5").toLowerCase,
            Seq("event_code", "platform_code", "res"))
        case "referer_parser" =>
          // database/uri point at the hosted referer db; graft embeds its
          // generated equivalent, so only internalDomains carries over
          mapped += RefererParser(internalDomains = fields("internalDomains"))
        case "ua_parser_config" | "user_agent_utils_config" | "yauaa_enrichment_config" =>
          if (!mapped.exists(_.isInstanceOf[UaParser])) mapped += UaParser()
        case "cookie_extractor_config" =>
          mapped += CookieExtractor("cookie_hdr", fields("cookies"))
        case "http_header_extractor_config" =>
          mapped += HttpHeaderExtractor("header_line")
        case "iab_spiders_and_robots_enrichment" =>
          // the IAB files are licensed downloads; the substring+IP-list
          // heuristic engine maps, the file contents cannot
          mapped += IabBotDetection()
        case "bot_detection_enrichment_config" =>
          mapped += BotDetection(
            useUa = Option(p.get("useYauaa")).forall(_.asBoolean()),
            useIab = Option(p.get("useIab")).forall(_.asBoolean()),
            useAsn = Option(p.get("useAsnLookups")).exists(_.asBoolean()))
        case "pii_enrichment_config" =>
          // reference registry/pii: pojo entries hash whole columns; json
          // entries rewrite fields inside contexts/unstruct_event. The
          // configured strategy (hashFunction + salt) applies to both —
          // r11: it is plumbed instead of silently dropped.
          val strategy = Option(p.get("strategy")).flatMap(s => Option(s.get("pseudonymize")))
          val piiSalt = strategy.flatMap(s => Option(s.get("salt")).map(_.asText())).getOrElse("")
          val hashFn = strategy.flatMap(s => Option(s.get("hashFunction")).map(_.asText())).getOrElse("SHA-256")
          val entries = Option(p.get("pii")).map(_.elements().asScala.toSeq).getOrElse(Nil)
          val pojoFields = entries.flatMap { e =>
            Option(e.get("pojo")).flatMap(pj => Option(pj.get("field")).map(_.asText()))
          }
          if (pojoFields.nonEmpty) mapped += PiiPseudonymize(pojoFields, piiSalt, hashFn)
          // json entries: `$.a.b` paths map; a trailing `['x', 'y']`
          // bracket list expands to one path per name; anything deeper
          // (wildcards, mid-path brackets) skips with guidance
          val BracketList = """(.*)\.\[(.+)\]$""".r
          entries.flatMap(e => Option(e.get("json"))).foreach { jn =>
            val fieldOpt = Option(jn.get("field")).map(_.asText())
            val pathOpt = Option(jn.get("jsonPath")).map(_.asText())
            (fieldOpt, pathOpt) match {
              case (Some(f), Some(path)) =>
                // PII must fail CLOSED: a name this expansion cannot
                // normalize to a plain $.field segment (leftover quotes,
                // brackets, wildcards) refuses the whole entry with a skip
                // — a malformed path silently matching nothing would let
                // the PII through unmasked
                def cleanName(raw: String): Option[String] = {
                  val n = raw.trim
                    .stripPrefix("'").stripSuffix("'")
                    .stripPrefix("\"").stripSuffix("\"")
                  if (n.matches("[A-Za-z_][A-Za-z0-9_-]*")) Some(n) else None
                }
                val expanded: Option[Seq[String]] = path match {
                  case BracketList(prefix, names) =>
                    val cleaned = names.split(",").toSeq.map(cleanName)
                    if (cleaned.forall(_.isDefined) && prefix.startsWith("$") &&
                        !prefix.contains("[") && !prefix.contains("*"))
                      Some(cleaned.flatten.map(n => s"$prefix.$n"))
                    else None
                  case simple if !simple.contains("[") && !simple.contains("*") &&
                      simple.startsWith("$.") => Some(Seq(simple))
                  case _ => None
                }
                expanded match {
                  case Some(ps) => mapped += PiiJsonFields(f, ps, piiSalt, hashFn)
                  case None =>
                    skipped += ((name, s"json pii path '$path' is deeper than the supported $$.a.b / trailing-['x','y'] forms — construct graft.enrich.PiiJsonFields directly"))
                }
              case _ =>
                skipped += ((name, "json pii entry needs field + jsonPath"))
            }
          }
          if (entries.isEmpty)
            skipped += ((name, "config has no pii entries"))
        case "cross_navigation_config" =>
          mapped += CrossNavigation()
        case "ip_lookups" =>
          // reference registry/IpLookupsEnrichment: per-segment MaxMind
          // databases (geo/isp/domain/connection/asn, each {database,
          // uri}). A .mmdb cannot feed a range lookup directly —
          // deployments export it to a parquet ranges dim (lo/hi int
          // keys) and inject the path per database FILENAME.
          def segment(seg: String): Option[String] =
            Option(p.get(seg)).flatMap(s => Option(s.get("database")).map(_.asText()))
          var handledAny = false
          segment("geo").foreach { db =>
            geoDims.get(db) match {
              case Some(path) =>
                mapped += IpGeoLookup(Nil, rangesPath = path); handledAny = true
              case None =>
                skipped += ((name, s"geo database '$db' has no injected ranges dim — pass geoDims = Map($db -> parquetRangesPath) (export the mmdb to lo/hi int ranges; graft.enrich.IpGeoLookup)"))
            }
          }
          segment("asn").foreach { db =>
            geoDims.get(db) match {
              case Some(path) =>
                mapped += IpAsnLookup(Nil, rangesPath = path); handledAny = true
              case None =>
                skipped += ((name, s"asn database '$db' has no injected ranges dim — pass geoDims = Map($db -> parquetRangesPath) (graft.enrich.IpAsnLookup)"))
            }
          }
          Seq("isp", "domain", "connection").foreach { seg =>
            segment(seg).foreach { db =>
              geoDims.get(db) match {
                case Some(path) =>
                  mapped += IpSegmentLookup(seg, rangesPath = path); handledAny = true
                case None =>
                  skipped += ((name, s"$seg database '$db' has no injected ranges dim — pass geoDims = Map($db -> parquetRangesPath) (lo/hi + the segment's value column; graft.enrich.IpSegmentLookup)"))
              }
            }
          }
          val anySegment = Seq("geo", "asn", "isp", "domain", "connection").exists(s => segment(s).isDefined)
          if (!handledAny && !anySegment)
            skipped += ((name, "config has no geo/asn/isp/domain/connection segment"))
        case "asn_lookups" =>
          // reference registry/AsnLookupsEnrichment: flag events whose
          // IP's ASN is on a bot list. The INLINE botAsns set is
          // self-contained (given ip_asn from IpAsnLookup upstream); the
          // file-backed list needs its CSV materialized.
          val inline = Option(p.get("botAsns")).map(_.elements().asScala.flatMap { b =>
            Option(b.get("asn")).map(_.asLong())
          }.toSet).getOrElse(Set.empty[Long])
          val bypass = Option(p.get("bypassPlatforms")).map(_.elements().asScala.map(_.asText()).toSet)
            .getOrElse(Set.empty[String])
          // botAsnsFile is {uri, database} — key the injected set by the
          // database FILENAME, same convention as geoDims
          Option(p.get("botAsnsFile")).map(f =>
            Option(f.get("database")).map(_.asText()).getOrElse(f.asText())) match {
            case Some(file) =>
              asnBotLists.get(file) match {
                case Some(csvAsns) =>
                  // reference AsnLookupsEnrichment.create: csvAsns ++ botAsns
                  mapped += AsnBotFlag(csvAsns ++ inline, bypass)
                case None =>
                  // do NOT map the inline subset alone: events whose ASN is
                  // only in the CSV would read asn_likely_bot=false instead
                  // of unenriched — skip the whole entry with guidance
                  skipped += ((name, s"botAsnsFile '$file' has no injected ASN set — pass asnBotLists = Map($file -> Set(asns...)) (parse the CSV once at plan time; the reference merges csvAsns ++ botAsns, so the inline subset alone would misclassify file-only ASNs)"))
              }
            case None =>
              if (inline.nonEmpty) mapped += AsnBotFlag(inline, bypass)
              else skipped += ((name, "config has neither botAsns nor botAsnsFile"))
          }
        case "currency_conversion_config" =>
          // reference registry/CurrencyConversionEnrichment: OER-fed per-day
          // rates. The feed cannot ride a config file — deployments
          // materialize a (cur, rate_micro) parquet dim per base currency
          // and inject its path.
          val base = Option(p.get("baseCurrency")).map(_.asText()).getOrElse("USD")
          ratesDims.get(base) match {
            case Some(path) => mapped += CurrencyConversion(Nil, ratesPath = path)
            case None =>
              skipped += ((name, s"no injected rates dim for base currency '$base' — pass ratesDims = Map($base -> parquetRatesPath) (cur STRING, rate_micro BIGINT)"))
          }
        case "weather_enrichment_config" =>
          // reference registry/WeatherEnrichment: per-event OWM history
          // lookup, cached per geoPrecision grid cell. The Spark shape is
          // an as-of join against a materialized observations dim —
          // injected per apiHost (the provider identity in the config).
          val host = Option(p.get("apiHost")).map(_.asText()).getOrElse("history.openweathermap.org")
          val precision = Option(p.get("geoPrecision")).map(_.asInt()).getOrElse(1)
          weatherDims.get(host) match {
            case Some(path) => mapped += WeatherLookup(path, geoPrecision = precision)
            case None =>
              skipped += ((name, s"no injected observations dim for '$host' — pass weatherDims = Map($host -> parquetObsPath) (lat_r/lon_r/obs_ts_us + value columns; graft.enrich.WeatherLookup)"))
          }
        case "api_request_enrichment_config" =>
          // reference registry/apirequest: named {{key}} template params
          // bound from pojo inputs; json-path inputs have no event column
          val inputs = Option(p.get("inputs"))
            .map(_.elements().asScala.toSeq).getOrElse(Nil)
          val pojoByKey = inputs.flatMap { in =>
            for {
              k <- Option(in.get("key")).map(_.asText())
              pojo <- Option(in.get("pojo"))
              field <- Option(pojo.get("field")).map(_.asText())
            } yield k -> field
          }.toMap
          val keyOrder = inputs.flatMap(in => Option(in.get("key")).map(_.asText())).distinct
          val uri = Option(p.get("api")).flatMap(a => Option(a.get("http")))
            .flatMap(h => Option(h.get("uri")).map(_.asText()))
          val apiTtl = Option(p.get("cache")).flatMap(c => Option(c.get("ttl")))
            .map(_.asLong()).getOrElse(0L)
          val outJson = Option(p.get("outputs")).flatMap(_.elements().asScala.toSeq.headOption)
            .flatMap(o => Option(o.get("json")))
          val jsonPath = outJson.flatMap(j => Option(j.get("jsonPath")).map(_.asText()))
          // the TEMPLATE decides which inputs matter: extra inputs are
          // reference-legal and unused; a placeholder without an input
          // (or one only json-path-bound) cannot build a URL
          val templateKeys: Seq[String] = uri.toSeq.flatMap(u =>
            "\\{\\{([^}]+)\\}\\}".r.findAllMatchIn(u).map(_.group(1)).toSeq.distinct)
          val activeKeys = keyOrder.filter(templateKeys.contains)
          (uri, uri.flatMap(apiLive.get)) match {
            case _ if templateKeys.exists(k => !pojoByKey.contains(k)) =>
              skipped += ((name, s"template placeholders ${templateKeys.filterNot(pojoByKey.contains).mkString(",")} have no pojo input (json-path inputs have no event column); bind event columns or construct graft.enrich.ApiRequestLookup directly"))
            case _ if activeKeys.map(pojoByKey).distinct.size != activeKeys.size =>
              skipped += ((name, s"two template placeholders bind the same event field (${activeKeys.map(pojoByKey).mkString(",")}) — alias the column or construct graft.enrich.ApiRequestLookup directly"))
            case _ if jsonPath.exists(jp => jp != "$" && !jp.matches("\\$\\.[A-Za-z_][A-Za-z0-9_]*")) =>
              skipped += ((name, s"output jsonPath '${jsonPath.get}' is deeper than the supported '$$' / '$$.field' forms — construct graft.enrich.ApiRequestLookup with a custom schema"))
            case (Some(u), Some(live)) =>
              val root = jsonPath.filter(_ != "$").map(_.stripPrefix("$."))
              // any leftover construction-time require (malformed shapes
              // this mapping didn't anticipate) lands in skipped — one bad
              // config entry must never abort parsing of ALL configs
              try mapped += ApiRequestLookup(
                keyCols = activeKeys.map(pojoByKey),
                keyNames = activeKeys,
                uriTemplate = u,
                transport = live.transport,
                outputSchemaDdl = live.outputSchemaDdl,
                jsonRoot = root.orNull,
                cachePath = live.cachePath,
                ttlSeconds = apiTtl)
              catch {
                case e: IllegalArgumentException =>
                  skipped += ((name, s"construction rejected: ${e.getMessage}"))
              }
            case (Some(u), None) =>
              skipped += ((name, s"no live HTTP injection for uri '$u' — pass apiLive = Map(uri -> EnrichmentConfig.ApiLive(transport, ddl))"))
            case (None, _) =>
              skipped += ((name, "config has no api.http.uri"))
          }
        case "sql_query_enrichment_config" =>
          // reference registry/sqlquery: ?-placeholders bound from pojo
          // inputs in placeholder order; json-path inputs have no event
          // column to bind and keep the config on the skip list
          val dbName = Option(p.get("database"))
            .flatMap(d => Option(d.get("postgresql")).orElse(Option(d.get("mysql"))))
            .flatMap(pg => Option(pg.get("database")).map(_.asText()))
          val inputs = Option(p.get("inputs"))
            .map(_.elements().asScala.toSeq).getOrElse(Nil)
          val pojoByPlaceholder = inputs.flatMap { in =>
            for {
              ph <- Option(in.get("placeholder")).map(_.asInt())
              pojo <- Option(in.get("pojo"))
              field <- Option(pojo.get("field")).map(_.asText())
            } yield ph -> field
          }.toMap
          val placeholders = inputs.flatMap(in => Option(in.get("placeholder")).map(_.asInt())).distinct.sorted
          val sqlText = Option(p.get("query")).flatMap(qn => Option(qn.get("sql")).map(_.asText()))
          val cacheTtl = Option(p.get("cache")).flatMap(c => Option(c.get("ttl")))
            .map(_.asLong()).getOrElse(0L)
          (dbName.flatMap(sqlLive.get), sqlText) match {
            case _ if placeholders.exists(ph => !pojoByPlaceholder.contains(ph)) =>
              skipped += ((name, s"placeholders ${placeholders.filterNot(pojoByPlaceholder.contains).mkString(",")} have only json-path inputs; bind event columns (pojo) or construct graft.enrich.SqlQueryLookup directly"))
            case _ if placeholders != (1 to placeholders.size).toList =>
              // a JDBC PreparedStatement binds positions 1..N; silently
              // re-basing non-contiguous indices would bind the wrong `?`s
              skipped += ((name, s"placeholders must be exactly 1..N, got ${placeholders.mkString(",")} — renumber the inputs to match the query's ? positions"))
            case (Some(live), Some(sqlStr)) =>
              // one event field may serve several placeholders: the
              // distinct fields key the dim, bindCols keeps the per-?
              // binding order (incl. repeats)
              val bindFields = placeholders.map(pojoByPlaceholder)
              mapped += SqlQueryLookup(
                keyCols = bindFields.distinct,
                sql = sqlStr,
                connectionFactory = live.connectionFactory,
                outputSchemaDdl = live.outputSchemaDdl,
                cachePath = live.cachePath,
                propertyNames = Option(p.get("output")).flatMap(o => Option(o.get("json")))
                  .flatMap(j => Option(j.get("propertyNames")).map(_.asText())).getOrElse("AS_IS"),
                bindCols = bindFields,
                ttlSeconds = cacheTtl)
            case (None, _) =>
              skipped += ((name, s"no live JDBC injection for database '${dbName.getOrElse("?")}' — pass sqlLive = Map(${dbName.getOrElse("db")} -> SqlQueryLookup.Live(factory, ddl))"))
            case (_, None) =>
              skipped += ((name, "config has no query.sql"))
          }
        case other =>
          skipped += ((other, "no graft mapping"))
      }
    }
    // cross-file dependency: AsnBotFlag classifies the ip_asn column that
    // IpAsnLookup produces — config FILE order must not decide whether the
    // chain resolves, so the flag stably moves after the lookup
    val ordered = {
      val (flags, rest) = mapped.toSeq.partition(_.isInstanceOf[AsnBotFlag])
      if (flags.isEmpty || !rest.exists(_.isInstanceOf[IpAsnLookup])) mapped.toSeq
      else {
        val at = rest.lastIndexWhere(_.isInstanceOf[IpAsnLookup])
        val (before, after) = rest.splitAt(at + 1)
        before ++ flags ++ after
      }
    }
    (EnrichmentPipeline(ordered), skipped.toSeq)
  }

  private def parseOne(n: JsonNode): Enrichment = {
    val name = Option(n.get("name")).map(_.asText())
      .getOrElse(throw new IllegalArgumentException("enrichment entry needs a 'name'"))
    name match {
      case "tracker_transform" => TrackerTransform()
      case "derived_tstamp" => DerivedTstamp()
      case "page_url_parse" => PageUrlParse(str(n, "urlCol", "page_url"))
      case "campaign_attribution" => CampaignAttribution()
      case "referer_parser" =>
        RefererParser(internalDomains = strs(n, "internalDomains"))
      case "ua_parser" => UaParser(str(n, "uaCol", "ua"))
      case "anon_ip" => AnonIp(str(n, "ipCol", "user_ipaddress"), int(n, "octets", 2), int(n, "segments", 4))
      case "cross_navigation" => CrossNavigation()
      case "pii_pseudonymize" =>
        PiiPseudonymize(strs(n, "fields"), str(n, "salt", ""))
      case "event_fingerprint" =>
        EventFingerprint(str(n, "algorithm", "md5"), strs(n, "params"))
      case "cookie_extractor" =>
        CookieExtractor(str(n, "cookieCol", "cookie_hdr"), strs(n, "cookies"))
      case "http_header_extractor" => HttpHeaderExtractor(str(n, "headerCol", "header_line"))
      case "iab_bot_detection" =>
        IabBotDetection(str(n, "uaCol", "ua"), str(n, "ipCol", "user_ipaddress"),
          strs(n, "botIpList"))
      case "schema_vendor" => SchemaVendor(str(n, "vendor", "com.snowplowanalytics.snowplow"))
      case "field_lengths" => FieldLengthValidator(graft.model.Atomic.fieldLengths)
      case "schema_validate" =>
        // {"name": "schema_validate", "jsonCol": "ctx", "schemaCol": "schema_str",
        //  "schemas": [{"uri": "iglu:...",
        //    "fields": [{"path": "sku", "required": true, "pattern": "sku[0-9]+"},
        //               {"path": "qty", "type": "bigint", "min": 0, "max": 100},
        //               {"path": "status", "enum": ["new", "paid"]}],
        //    "required": ["legacy"], "bigints": ["legacy_n"]}]}  // legacy keys
        val specs = Option(n.get("schemas")).map(_.elements().asScala.map { sn =>
          val uri = Option(sn.get("uri")).map(_.asText())
            .getOrElse(throw new IllegalArgumentException("schema entry needs a 'uri'"))
          val fields = scala.collection.mutable.Buffer[FieldSpec]()
          Option(sn.get("fields")).foreach(_.elements().asScala.foreach { fn =>
            fields += FieldSpec(
              path = Option(fn.get("path")).map(_.asText())
                .getOrElse(throw new IllegalArgumentException("field entry needs a 'path'")),
              required = Option(fn.get("required")).exists(_.asBoolean()),
              typ = str(fn, "type", "string"),
              enumVals = strs(fn, "enum"),
              pattern = Option(fn.get("pattern")).map(_.asText()).orNull,
              min = Option(fn.get("min")).map(_.asLong()),
              max = Option(fn.get("max")).map(_.asLong()))
          })
          strs(sn, "required").foreach(f => fields += FieldSpec(f, required = true))
          strs(sn, "bigints").foreach(f => fields += FieldSpec(f, typ = "bigint"))
          uri -> fields.toSeq
        }.toMap).getOrElse(Map.empty)
        SchemaValidate(str(n, "jsonCol", "unstruct_event"), str(n, "schemaCol", "event_schema"), specs)
      case "currency_conversion" =>
        // {"name": "currency_conversion",
        //  "rates": [{"cur": "EUR", "rateMicro": 1080000}, ...]}   inline, or
        // {"name": "currency_conversion", "ratesPath": "/dims/rates.parquet",
        //  "curField": "cur", "rateField": "rate_micro"}
        val inline = Option(n.get("rates")).map(_.elements().asScala.map { rn =>
          (rn.get("cur").asText(), rn.get("rateMicro").asLong())
        }.toSeq).getOrElse(Nil)
        val path = Option(n.get("ratesPath")).map(_.asText()).orNull
        if (inline.isEmpty && path == null)
          throw new IllegalArgumentException("currency_conversion needs 'rates' or 'ratesPath'")
        CurrencyConversion(inline,
          str(n, "amountCentsCol", "amount_cents"), str(n, "currencyCol", "currency"),
          str(n, "outCol", "base_amount_e8"), ratesPath = path,
          curField = str(n, "curField", "cur"), rateField = str(n, "rateField", "rate_micro"))
      case "ip_geo_lookup" =>
        // {"name": "ip_geo_lookup",
        //  "ranges": [{"lo": 0, "hi": 16777215, "country": "US"}, ...]}  or
        // {"name": "ip_geo_lookup", "rangesPath": "/dims/geo.parquet",
        //  "loField": "lo", "hiField": "hi", "countryField": "cc"}
        val inline = Option(n.get("ranges")).map(_.elements().asScala.map { rn =>
          (rn.get("lo").asLong(), rn.get("hi").asLong(), rn.get("country").asText())
        }.toSeq).getOrElse(Nil)
        val path = Option(n.get("rangesPath")).map(_.asText()).orNull
        if (inline.isEmpty && path == null)
          throw new IllegalArgumentException("ip_geo_lookup needs 'ranges' or 'rangesPath'")
        // optional IPv6 block table:
        // "v6Ranges": [{"prefix": "2001:db8:1:2", "lo": "0",
        //               "hi": "18446744073709551615", "country": "US"}]
        // lo/hi are the low-64 half as DECIMAL STRINGS (an unsigned 64-bit
        // value overflows a JSON-safe long)
        val v6 = Option(n.get("v6Ranges")).map(_.elements().asScala.map { rn =>
          (rn.get("prefix").asText(), BigInt(rn.get("lo").asText()),
            BigInt(rn.get("hi").asText()), rn.get("country").asText())
        }.toSeq).getOrElse(Nil)
        // a "bucketBits" key (the range join's bucket width) is still
        // accepted and ignored: the lookup needs no buckets
        IpGeoLookup(inline, str(n, "ipCol", "user_ipaddress"),
          rangesPath = path, loField = str(n, "loField", "lo"),
          hiField = str(n, "hiField", "hi"), countryField = str(n, "countryField", "geo_country"),
          v6Ranges = v6)
      case "ip_asn_lookup" =>
        // {"name": "ip_asn_lookup",
        //  "ranges": [{"lo": 0, "hi": 16777215, "asn": 64496, "org": "Example"}, ...]}  or
        // {"name": "ip_asn_lookup", "rangesPath": "/dims/asn.parquet",
        //  "loField": "lo", "hiField": "hi", "asnField": "ip_asn", "orgField": "ip_organization"}
        val inline = Option(n.get("ranges")).map(_.elements().asScala.map { rn =>
          (rn.get("lo").asLong(), rn.get("hi").asLong(), rn.get("asn").asLong(),
            Option(rn.get("org")).map(_.asText()).orNull)
        }.toSeq).getOrElse(Nil)
        val path = Option(n.get("rangesPath")).map(_.asText()).orNull
        if (inline.isEmpty && path == null)
          throw new IllegalArgumentException("ip_asn_lookup needs 'ranges' or 'rangesPath'")
        IpAsnLookup(inline, str(n, "ipCol", "user_ipaddress"), rangesPath = path,
          loField = str(n, "loField", "lo"), hiField = str(n, "hiField", "hi"),
          asnField = str(n, "asnField", "ip_asn"), orgField = str(n, "orgField", "ip_organization"))
      case "ip_segment_lookup" =>
        // {"name": "ip_segment_lookup", "segment": "isp",   (isp | domain | connection)
        //  "ranges": [{"lo": 0, "hi": 16777215, "value": "Example ISP"}, ...]}  or
        // {"name": "ip_segment_lookup", "segment": "isp", "rangesPath": "/dims/isp.parquet",
        //  "loField": "lo", "hiField": "hi", "valueField": "isp"}
        val inline = Option(n.get("ranges")).map(_.elements().asScala.map { rn =>
          (rn.get("lo").asLong(), rn.get("hi").asLong(), Option(rn.get("value")).map(_.asText()).orNull)
        }.toSeq).getOrElse(Nil)
        val path = Option(n.get("rangesPath")).map(_.asText()).orNull
        if (inline.isEmpty && path == null)
          throw new IllegalArgumentException("ip_segment_lookup needs 'ranges' or 'rangesPath'")
        IpSegmentLookup(
          Option(n.get("segment")).map(_.asText())
            .getOrElse(throw new IllegalArgumentException("ip_segment_lookup needs 'segment'")),
          inline, str(n, "ipCol", "user_ipaddress"), rangesPath = path,
          loField = str(n, "loField", "lo"), hiField = str(n, "hiField", "hi"),
          valueField = Option(n.get("valueField")).map(_.asText()).orNull)
      case "dim_join" =>
        // {"name": "dim_join", "keyCol": "user_id", "dimKeyCol": "c_custkey",
        //  "select": ["c_name"], "path": "/dims/customer.parquet"}  or inline:
        //  "rows": [{"c_custkey": 1, "c_name": "Alice"}, ...]
        val rows = Option(n.get("rows"))
          .map(_.elements().asScala.map(_.toString).toSeq).getOrElse(Nil)
        DimJoin(
          str(n, "keyCol", "user_id"),
          Option(n.get("dimKeyCol")).map(_.asText())
            .getOrElse(throw new IllegalArgumentException("dim_join needs 'dimKeyCol'")),
          strs(n, "select"),
          path = Option(n.get("path")).map(_.asText()).orNull,
          inlineJsonRows = rows)
      case "contexts_validate" =>
        // {"name": "contexts_validate", "contextsCol": "contexts",
        //  "schemas": [{"uri": "iglu:...", "required": ["id"]}], "maxContexts": 8}
        val specs = Option(n.get("schemas")).map(_.elements().asScala.map { sn =>
          val uri = Option(sn.get("uri")).map(_.asText())
            .getOrElse(throw new IllegalArgumentException("schema entry needs a 'uri'"))
          uri -> strs(sn, "required")
        }.toMap).getOrElse(Map.empty)
        ContextsValidate(str(n, "contextsCol", "contexts"), specs, int(n, "maxContexts", 8))
      case "bot_detection" =>
        // reference parameter names: useYauaa / useIab / useAsnLookups
        // (registry/BotDetectionEnrichment.scala:85-90)
        BotDetection(
          useUa = Option(n.get("useYauaa")).forall(_.asBoolean()),
          useIab = Option(n.get("useIab")).forall(_.asBoolean()),
          useAsn = Option(n.get("useAsnLookups")).exists(_.asBoolean()),
          botAsns = Option(n.get("botAsns")).map(_.elements().asScala.map(_.asLong()).toSeq).getOrElse(Nil))
      case "javascript_script" =>
        // The reference's javascript_script_config carries the script
        // base64url-encoded in parameters.script (reference
        // enrichments/registry/JavascriptScriptEnrichment.scala:54) with an
        // optional parameters.config object; accept both that shape and a
        // plain "script" string.
        //   {"name": "javascript_script", "script": "function process(event) {...}"}
        //   {"name": "javascript_script", "scriptB64": "...", "params": {...}}
        val plain = Option(n.get("script")).map(_.asText())
        val fromB64 = Option(n.get("scriptB64")).map { b =>
          new String(java.util.Base64.getUrlDecoder.decode(b.asText()),
            java.nio.charset.StandardCharsets.UTF_8)
        }
        val script = plain.orElse(fromB64)
          .getOrElse(throw new IllegalArgumentException("javascript_script needs 'script' or 'scriptB64'"))
        if (script.trim.isEmpty)
          throw new IllegalArgumentException("Provided script for JS enrichment is empty")
        graft.js.JsTransform(script,
          paramsJson = Option(n.get("params")).map(_.toString).getOrElse("{}"),
          headersCol = Option(n.get("headersCol")).map(_.asText()))
      case other =>
        throw new IllegalArgumentException(
          s"unknown enrichment '$other'; supported: tracker_transform, derived_tstamp, " +
            "page_url_parse, campaign_attribution, referer_parser, ua_parser, anon_ip, " +
            "cross_navigation, pii_pseudonymize, event_fingerprint, cookie_extractor, " +
            "http_header_extractor, iab_bot_detection, schema_vendor, field_lengths, " +
            "schema_validate, contexts_validate, currency_conversion, ip_geo_lookup, " +
            "ip_asn_lookup, ip_segment_lookup, dim_join, javascript_script, bot_detection")
    }
  }
}
