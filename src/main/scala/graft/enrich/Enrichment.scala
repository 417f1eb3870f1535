package graft.enrich

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{EventF, IpF, RefF, UaF, UrlF}
import graft.operators.RangeJoin
import graft.plans.{DimLookup, IpRangeTable, KeyTable}

/** The graft enrichment registry — Spark twin of snowplow/enrich
  * `enrichments/EnrichmentRegistry.scala` + `EnrichmentManager.scala`.
  *
  * The reference runs a per-record mutation loop over a bean; graft models
  * an enrichment as a *declarative column transform* (`DataFrame =>
  * DataFrame`). Chained enrichments therefore collapse into a single
  * Catalyst projection: one WholeStageCodegen stage, no shuffle, and the
  * whole chain scan-pipelines over 100 TB. A static dim (IP ranges,
  * currency rates) is a lookup kernel ([[graft.plans.DimLookupExpression]]):
  * read once when the stage is applied, broadcast, and looked up once per
  * row, with no join in the plan. Dims keyed by fact columns or with
  * inferred schemas ([[DimJoin]], [[ApiLookup]], [[IdentityLookup]],
  * [[WeatherLookup]]) stay joins.
  *
  * A stage that derives several columns from its input adds them in ONE
  * `withColumns` over an insertion-ordered `ListMap`: one analyzed
  * projection per stage instead of one per column, with the same column
  * order and in-place replacement as the `withColumn` chain it spells.
  *
  * That one stage compiles to one generated Java method, and HotSpot never
  * JIT-compiles a method over 8,000 bytes of bytecode: past it, every row
  * of the chain runs in the bytecode interpreter. Per-field Column code
  * costs bytes per field, so the fat stages (collector parse, protocol
  * mapping, TrackerTransform, UaParser, the URL stages, CrossNavigation,
  * EventFingerprint, FieldLengthValidator) read their columns from one
  * compact kernel call per row (`graft.plans`), with the Column spelling
  * kept as a specification twin. `PlanShapeSpec` fails when the default
  * chain's largest generated method reaches 8,000 bytes.
  *
  * Validation failures never kill the job: enrichments append STRUCTURED
  * failure entities to the `bad_row_errors` array column — the Spark twin
  * of the reference's bad-row channel with the reference's failure-entity
  * fidelity (`enrichments/Failure.scala:31` attaches schema'd
  * FailureContext entities as derived contexts: failureType, errors,
  * schema, componentName). Each graft entity is a struct
  * `(enrichment, failure_type, schema_key, message)`: the failing
  * component by name, the typed taxonomy token, the violated schema URI
  * where one applies, and the human reason.
  * [[EnrichmentPipeline.split]] partitions good from bad.
  */
trait Enrichment extends Serializable {
  def name: String
  def apply(df: DataFrame): DataFrame

  /** Append a failure entity for rows where `cond` holds: this
    * enrichment's name + the typed `failureType` + the violated
    * `schemaKey` (null where no schema applies) + the `reason` text. */
  protected def flagBad(
    df: DataFrame,
    cond: Column,
    reason: String,
    failureType: String = "enrichment_failure",
    schemaKey: Column = lit(null).cast("string")
  ): DataFrame = {
    val prev = if (df.columns.contains("bad_row_errors")) col("bad_row_errors")
               else Enrichment.emptyFailures
    val entity = struct(
      lit(name).as("enrichment"),
      lit(failureType).as("failure_type"),
      schemaKey.cast("string").as("schema_key"),
      lit(reason).as("message"))
    df.withColumn("bad_row_errors",
      when(cond, array_union(prev, array(entity))).otherwise(prev))
  }
}

object Enrichment {
  /** The failure-entity element type (reference `enrichments/Failure
    * .scala:31` FailureContext, minus the transport-only timestamp and
    * version fields a columnar engine derives elsewhere). */
  val FailureEntityType: String =
    "array<struct<enrichment:string,failure_type:string,schema_key:string,message:string>>"

  /** An empty, correctly-typed failure-entity array. */
  def emptyFailures: Column = array().cast(FailureEntityType)

  /** Render entities to `"enrichment: message"` strings (log lines, spec
    * assertions, the pre-r9 string shape). */
  def failureSummaries(entities: Column): Column =
    transform(entities, e =>
      concat(e.getField("enrichment"), lit(": "), e.getField("message")))
}

/** Tracker-protocol transform (reference `enrichments/Transform.scala`):
  * event code, platform, resolution, forwarded IP → atomic columns, with
  * bad-row flags for unknown codes. The five columns are the fields of one
  * [[graft.plans.TrackerFieldsExpression]] per row. */
final case class TrackerTransform(
  eventCodeCol: String = "event_code",
  platformCol: String = "platform_code",
  resCol: String = "res",
  xffCol: String = "xff"
) extends Enrichment {
  val name = "tracker_transform"
  def apply(df: DataFrame): DataFrame = {
    val k = EventF.trackerFields(col(eventCodeCol), col(platformCol), col(resCol), col(xffCol))
    val out = df.withColumns(ListMap(
      graft.plans.TrackerFieldsExpression.Schema.fieldNames.toSeq.map(f => f -> k.getField(f)): _*))
    // the flags read the derived event/platform, so they stay a second step
    val bad1 = flagBad(out, col(eventCodeCol).isNotNull && col("event").isNull, "unknown event code")
    flagBad(bad1, col(platformCol).isNotNull && col("platform").isNull, "invalid platform")
  }
}

/** Derived timestamp (reference `EventEnrichments.getDerivedTimestamp`). */
final case class DerivedTstamp(
  collectorCol: String = "collector_us",
  createdCol: String = "created_us",
  sentCol: String = "sent_us",
  trueCol: String = "true_us"
) extends Enrichment {
  val name = "derived_tstamp"
  def apply(df: DataFrame): DataFrame =
    df.withColumn("derived_tstamp_us",
      EventF.derivedTstampMicros(col(collectorCol), col(createdCol), col(sentCol), col(trueCol)))
}

/** IP anonymization (reference `registry/AnonIpEnrichment.scala`). */
final case class AnonIp(ipCol: String = "user_ipaddress", octets: Int = 2, segments: Int = 4)
    extends Enrichment {
  val name = "anon_ip"
  def apply(df: DataFrame): DataFrame =
    df.withColumn(ipCol, IpF.anonIp(col(ipCol), octets, segments))
}

/** Page URL decomposition (reference `web/PageEnrichments` + ConversionUtils).
  * One fused parse per row (r16): the six getFields below share a single
  * [[graft.plans.UrlParseExpression]] evaluation via codegen subexpression
  * elimination. */
final case class PageUrlParse(urlCol: String = "page_url") extends Enrichment {
  val name = "page_url_parse"
  def apply(df: DataFrame): DataFrame = {
    val p = UrlF.urlParsed(col(urlCol))
    df.withColumns(ListMap(
      Seq("scheme", "host", "port", "path", "query", "fragment")
        .map(f => s"page_url$f" -> p.getField(f)): _*))
  }
}

/** Campaign attribution (reference `registry/CampaignAttributionEnrichment`). */
final case class CampaignAttribution(
  urlCol: String = "page_url",
  mediumParams: Seq[String] = Seq("utm_medium", "mkt_medium"),
  sourceParams: Seq[String] = Seq("utm_source", "mkt_source"),
  termParams: Seq[String] = Seq("utm_term", "q"),
  contentParams: Seq[String] = Seq("utm_content"),
  campaignParams: Seq[String] = Seq("utm_campaign", "mkt_campaign"),
  clickIdNetworks: Seq[(String, String)] =
    Seq("gclid" -> "Google", "msclkid" -> "Microsoft", "dclid" -> "DoubleClick", "fbclid" -> "Facebook")
) extends Enrichment {
  val name = "campaign_attribution"
  def apply(df: DataFrame): DataFrame = {
    // values are form-decoded like the reference's extractQuerystring does
    // before extractMarketingFields sees them (spec vector: utm_term
    // "native american tarot deck" arrives '+'-encoded). One fused
    // querystring pass per row (r16, graft.plans
    // .CampaignAttributionExpression); the qs itself comes off the shared
    // UrlParseExpression parse of the page URL.
    val fused = UrlF.campaignParsed(UrlF.urlQuery(col(urlCol)),
      UrlF.CampaignCfg(mediumParams, sourceParams, termParams,
        contentParams, campaignParams, clickIdNetworks))
    df.withColumns(ListMap(
      graft.plans.CampaignAttributionExpression.Schema.fieldNames.toSeq
        .map(f => s"mkt_$f" -> fused.getField(f)): _*))
  }
}

/** Referer classification (reference `registry/RefererParserEnrichment`). */
final case class RefererParser(
  refrCol: String = "refr_url",
  pageCol: String = "page_url",
  internalDomains: Seq[String] = Nil
) extends Enrichment {
  val name = "referer_parser"
  def apply(df: DataFrame): DataFrame = {
    // one fused classification per row (r16, graft.plans
    // .RefererParseExpression): the four getFields share a single kernel
    // evaluation, and the pageHost child shares PageUrlParse's parse
    val fused = RefF.refererParsed(
      col(refrCol), UrlF.urlHost(col(pageCol)), internalDomains)
    df.withColumns(ListMap(
      "refr_urlhost" -> fused.getField("host"),
      "refr_medium" -> fused.getField("medium"),
      "refr_source" -> fused.getField("source"),
      "refr_term" -> fused.getField("term")))
  }
}

/** UA classification (reference `registry/UserAgentUtilsEnrichment` /
  * `YauaaEnrichment` / `BotDetectionEnrichment`). The six classification
  * columns are the fields of one [[graft.plans.UaParseExpression]] per row
  * (their getFields share it under codegen subexpression elimination). */
final case class UaParser(uaCol: String = "ua") extends Enrichment {
  val name = "ua_parser"
  def apply(df: DataFrame): DataFrame = {
    val ua = UaF.uaParsed(col(uaCol))
    df.withColumns(ListMap(("useragent" -> col(uaCol)) +:
      Seq("br_family", "br_version", "os_family", "dvce_type", "dvce_ismobile", "is_bot")
        .map(f => f -> ua.getField(f)): _*))
  }
}

/** Event fingerprint (reference `registry/EventFingerprintEnrichment`):
  * one digest call per row ([[graft.plans.FingerprintExpression]]). */
final case class EventFingerprint(algo: String, params: Seq[String]) extends Enrichment {
  val name = "event_fingerprint"
  def apply(df: DataFrame): DataFrame =
    df.withColumn("event_fingerprint",
      EventF.fingerprintDigest(algo, params.map(p => p -> col(p))))
}

/** PII pseudonymization (reference `registry/pii/PiiPseudonymizerEnrichment`). */
final case class PiiPseudonymize(
  cols: Seq[String],
  salt: String,
  hashFunction: String = "SHA-256"
) extends Enrichment {
  val name = "pii_pseudonymize"
  def apply(df: DataFrame): DataFrame =
    if (cols.isEmpty) df
    else df.withColumns(cols.foldLeft(ListMap.empty[String, Column]) { (m, c) =>
      // a column named twice is hashed twice, as the per-column fold did
      m.updated(c, EventF.pseudonymize(m.getOrElse(c, col(c)), salt, hashFunction))
    })
}

/** JSON-path PII pseudonymization (reference
  * `registry/pii/PiiPseudonymizerEnrichment.scala`'s json mode: rewrite
  * named fields INSIDE a JSON document column — contexts/unstruct_event —
  * splicing the hash back in place). Each path is `$.field` /
  * `$.a.b.field` form; the kernel fails CLOSED (nulls the document) on
  * ambiguous rewrites rather than emit a wrong pseudonym. */
final case class PiiJsonFields(
  jsonCol: String,
  paths: Seq[String],
  salt: String,
  hashFunction: String = "SHA-256"
) extends Enrichment {
  val name = "pii_json_fields"
  require(paths.nonEmpty, "pii_json_fields needs at least one JsonPath")
  def apply(df: DataFrame): DataFrame =
    df.withColumn(jsonCol, paths.foldLeft(col(jsonCol)) { (c, p) =>
      EventF.pseudonymizeJsonField(c, p, salt, hashFunction)
    })
}

/** Currency conversion against a static rates dim (reference
  * `registry/CurrencyConversionEnrichment`, which calls Open Exchange Rates
  * per record). The rate is one key lookup per row
  * ([[graft.plans.KeyTable]]): the dim is read when the stage is applied
  * and must fit in driver memory. A currency the dim repeats fails that
  * build. Rates are micro-units so the conversion stays in exact integer
  * arithmetic. [[applySpec]] is the broadcast-join twin. */
final case class CurrencyConversion(
  rates: Seq[(String, Long)],
  amountCentsCol: String = "amount_cents",
  currencyCol: String = "currency",
  outCol: String = "base_amount_e8",
  ratesPath: String = null, // parquet dim table instead of inline rates
  curField: String = "cur",
  rateField: String = "rate_micro"
) extends Enrichment {
  val name = "currency_conversion"

  private def ratesDf(spark: SparkSession): DataFrame =
    spark.read.parquet(ratesPath)
      .select(col(curField).cast("string").as("__cur"), col(rateField).cast("bigint").as("__rate_micro"))

  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rows =
      if (ratesPath != null) DimLookup.collectKeys(ratesDf(spark))
      else rates.map { case (c, r) => (UTF8String.fromString(c), java.lang.Long.valueOf(r)) }
    val rate = DimLookup.column(spark, col(currencyCol), KeyTable(name, rows), LongType)
    // null, not a job abort, when a crafted amount overflows
    df.withColumn(outCol, try_multiply(col(amountCentsCol), rate))
  }

  /** The broadcast left-join twin of [[apply]]. */
  def applySpec(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dim = broadcast(if (ratesPath != null) ratesDf(spark) else rates.toDF("__cur", "__rate_micro"))
    df.join(dim, col(currencyCol) === col("__cur"), "left")
      .withColumn(outCol, try_multiply(col(amountCentsCol), col("__rate_micro")))
      .drop("__cur", "__rate_micro")
  }
}

/** IP→geo as one range lookup per row (reference
  * `registry/IpLookupsEnrichment`, a per-record MaxMind binary search; see
  * [[graft.plans.IpRangeTable]]). The ranges dim is read when the stage is
  * applied and must fit in driver memory; overlapping ranges fail that
  * build.
  *
  * `v6Ranges` adds the IPv6 block table: `(canonical /64 prefix —
  * lowercase minimal hex, low-64 lo, low-64 hi, country)`, the low 64 bits
  * unsigned. Addresses route themselves: a v4 address has no v6 parse and
  * vice versa, so each row matches at most one family.
  *
  * [[applySpec]] is the broadcast range-join twin
  * ([[graft.operators.RangeJoin]]). 2^128 overflows DECIMAL(38,0), so its
  * 128-bit key splits as (prefix equi-key, low-64 DECIMAL(20,0) range
  * key); bucket ids are computed driver-side with BigInt and on the fact
  * side with exact long arithmetic over the top 48 bits. */
final case class IpGeoLookup(
  ranges: Seq[(Long, Long, String)],
  ipCol: String = "user_ipaddress",
  rangesPath: String = null, // parquet dim table instead of inline ranges
  loField: String = "lo",
  hiField: String = "hi",
  countryField: String = "geo_country",
  v6Ranges: Seq[(String, BigInt, BigInt, String)] = Nil
) extends Enrichment {
  val name = "ip_geo_lookup"

  /** The twin's lo64 bucket shift: bucket = lo64 >> 59 (facts: hi48 >> 43). */
  private val V6Shift = 59

  private def rangesDf(spark: SparkSession): DataFrame =
    spark.read.parquet(rangesPath)
      .select(col(loField).cast("bigint").as("__lo"), col(hiField).cast("bigint").as("__hi"),
        col(countryField).cast("string").as("geo_country"))

  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val v4 =
      if (rangesPath != null) DimLookup.collectRanges(rangesDf(spark))
      else ranges.map { case (lo, hi, cc) => (lo, hi, UTF8String.fromString(cc)) }
    val v6 = v6Ranges.map { case (p, lo, hi, cc) => (p, lo, hi, UTF8String.fromString(cc)) }
    df.withColumn("geo_country",
      DimLookup.column(spark, col(ipCol), IpRangeTable(name, v4, v6), StringType))
  }

  /** The broadcast range-join twin of [[apply]]. */
  def applySpec(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dim = if (rangesPath != null) rangesDf(spark) else ranges.toDF("__lo", "__hi", "geo_country")
    val v4 = RangeJoin.leftJoinRanges(df, IpF.ipv4ToLong(col(ipCol)), dim, "__lo", "__hi", 27)
      .drop("__lo", "__hi")
    if (v6Ranges.isEmpty) v4
    else {
      val dim6 = v6Ranges.flatMap { case (pfx, lo, hi, cc) =>
        ((lo >> V6Shift) to (hi >> V6Shift)).map(b =>
          (pfx, b.toLong, BigDecimal(lo), BigDecimal(hi), cc))
      }.toDF("__pfx", "__bkt", "__lo6", "__hi6", "__cc6")
        .select(col("__pfx"), col("__bkt"),
          col("__lo6").cast("decimal(20,0)").as("__lo6"),
          col("__hi6").cast("decimal(20,0)").as("__hi6"), col("__cc6"))
      val addr = IpF.expandIpv6(IpF.normalizeMixedIpv6(col(ipCol)))
      val joined = v4
        .withColumn("__p", IpF.ipv6PrefixCanonical(addr))
        .withColumn("__b", shiftright(IpF.ipv6Lo64Hi48(addr), V6Shift - 16))
        .withColumn("__v", IpF.ipv6Lo64Dec(addr))
        .join(broadcast(dim6),
          col("__p") === col("__pfx") && col("__b") === col("__bkt") &&
            col("__v") >= col("__lo6") && col("__v") <= col("__hi6"),
          "left")
      joined
        .withColumn("geo_country", coalesce(col("geo_country"), col("__cc6")))
        .drop("__p", "__b", "__v", "__pfx", "__bkt", "__lo6", "__hi6", "__cc6")
    }
  }
}

/** Generic broadcast dimension join — the declarative replacement for the
  * reference's per-record `registry/ApiRequestEnrichment` /
  * `registry/SqlQueryEnrichment` lookups (an RPC per event cannot survive
  * 100 TB; a broadcast hash join of the same dimension can). The dimension
  * comes from a parquet path (anything Hadoop FS speaks — file/S3/GCS), a
  * plain `http(s)://` URL (reference cloudutils
  * `core/HttpBlobClient.scala` asset fetch: the JSON-lines document is
  * fetched ONCE on the driver at plan build — under `--refresh-dims`
  * that means once per micro-batch, the reference's assets-refresh
  * cadence — then broadcast like any other dim), or inline JSON rows
  * (schema inferred). `transport` is the injectable fetch seam (tests: a
  * local fixture; default: the pooled `RemoteResolver.httpTransport`). */
final case class DimJoin(
  keyCol: String,
  dimKeyCol: String,
  select: Seq[String] = Nil, // empty = every dim column
  path: String = null,
  inlineJsonRows: Seq[String] = Nil,
  transport: String => Option[String] = null
) extends Enrichment {
  val name = "dim_join"
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(path != null || inlineJsonRows.nonEmpty, "dim_join needs 'path' or 'rows'")
    val dim0 =
      if (path != null && (path.startsWith("http://") || path.startsWith("https://"))) {
        val t = if (transport != null) transport
                else IgluResolver.RemoteResolver.httpTransport()
        val body = t(path).getOrElse(throw new IllegalArgumentException(
          s"dim_join: http dim '$path' returned 404 — the dimension document must exist"))
        spark.read.json(body.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq.toDS())
      }
      else if (path != null) spark.read.parquet(path)
      else spark.read.json(inlineJsonRows.toDS())
    val dim = if (select.nonEmpty) dim0.select((dimKeyCol +: select).map(col): _*) else dim0
    df.join(broadcast(dim), df(keyCol) === dim(dimKeyCol), "left").drop(dim(dimKeyCol))
  }
}

/** Live-lookup escape hatch for [[DimJoin]] (reference
  * `registry/apirequest/HttpApi.scala`, `registry/sqlquery/DbExecutor.scala`):
  * the reference calls an HTTP/JDBC endpoint per event behind an LRU cache.
  * Per-ROW RPC is the wrong shape at 100 TB — this keeps the joins-not-RPC
  * architecture while still reaching a live service:
  *
  *  1. the DISTINCT key set is materialized (tiny after dedup — egress is
  *     bounded by |keys|, never by |rows|; `maxKeys` fails fast on an
  *     unbounded key explosion),
  *  2. keys missing from the parquet `cachePath` dim are fetched ONCE
  *     through the injected transport (one transport instance per
  *     partition — production: a pooled HTTP client, exactly the
  *     RemoteAdapter pattern; tests: a deterministic local function),
  *  3. fetched rows are APPENDED to the cache dim (reruns and later
  *     pipelines re-join without touching the service), and
  *  4. the dim broadcasts back onto the fact — a BroadcastHashJoin, zero
  *     fact-side shuffle.
  *
  * @param transport key → JSON response body (None = lookup miss; misses
  *                  are cached as null responses so they are not re-fetched).
  *                  For a real HTTP endpoint compose the URL into
  *                  `IgluResolver.RemoteResolver.httpTransport()` — the
  *                  default pooled java.net.http client with timeouts and
  *                  retry-once (r11)
  * @param outputSchemaDdl DDL schema the response JSON parses into
  *                  (columns appear on the output, null on miss)
  * @param cachePath optional parquet dim path; null = fetch-only this run
  */
final case class ApiLookup(
  keyCol: String,
  transport: String => Option[String],
  outputSchemaDdl: String,
  cachePath: String = null,
  maxKeys: Long = 1000000L,
  ttlSeconds: Long = 0L,
  breakerFailures: Int = 0
) extends Enrichment {
  val name = "api_lookup"
  require(ttlSeconds >= 0L, "api_lookup: ttlSeconds must be >= 0 (0 = cache forever)")
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val nowSec = System.currentTimeMillis() / 1000L
    val keys = df.select(col(keyCol).cast("string")).na.drop().distinct()
    def emptyDim = spark.emptyDataset[(String, String, Long)]
      .toDF(keyCol, "api_response", "api_fetched_at")
    val cachedRaw: DataFrame =
      if (cachePath == null) emptyDim
      else
        try CacheDim.read(spark, cachePath, "api_fetched_at")
        catch { case _: Exception => emptyDim }
    // reference config cache.ttl: entries older than the ttl — including
    // cached misses — read as absent and re-fetch (ttl 0 = cache forever)
    val cached = CacheDim.freshOnly(cachedRaw, "api_fetched_at", ttlSeconds, nowSec)
    val missing = keys.join(cached.select(keyCol), Seq(keyCol), "left_anti")
    val nMissing = missing.count()
    require(nMissing <= maxKeys,
      s"api_lookup: $nMissing distinct keys exceed maxKeys=$maxKeys — " +
        "bound the key domain or raise the limit explicitly")
    // avoid serializing the enclosing enrichment; breakerFailures > 0 adds
    // the reference CircuitBreaker posture: K consecutive throws open the
    // breaker and the remaining keys THIS RUN fail fast (null columns,
    // retry next run) without further endpoint calls
    val t = CircuitBreaker.guard(
      CircuitBreaker.freshId(name), breakerFailures)(transport)
    val fetchedAt = nowSec
    // a transport that THROWS (timeout, 500) must not kill the stage — the
    // one-bad-row-never-kills-the-backfill rule. A thrown failure is NOT a
    // miss: misses (None) are cached as null responses so they are never
    // re-fetched; failures yield null columns this run but stay OUT of the
    // cache dim, so the next run retries them (reference
    // registry/apirequest/HttpApi.scala keeps the failure channel typed
    // rather than collapsing it into the miss case).
    val fetched = missing.as[String]
      .mapPartitions { it =>
        it.map { k =>
          scala.util.Try(t(k)) match {
            case scala.util.Success(v) => (k, v.orNull, fetchedAt, true)
            case scala.util.Failure(_) => (k, null: String, fetchedAt, false)
          }
        }
      }
      .toDF(keyCol, "api_response", "api_fetched_at", "api_fetch_ok")
    // with a cache: the append IS the single transport evaluation — the dim
    // re-reads the parquet, so the join never re-fires the fetch
    val dimRaw =
      if (cachePath == null) cached.unionByName(fetched.where(col("api_fetch_ok")).drop("api_fetch_ok"))
      else {
        if (nMissing > 0)
          fetched.where(col("api_fetch_ok")).drop("api_fetch_ok")
            .write.mode("append").parquet(cachePath)
        try CacheDim.readCompacting(spark, cachePath, Seq(keyCol), "api_fetched_at", ttlSeconds, nowSec)
        catch { case _: Exception => cached } // nothing fetched, no prior cache
      }
    // same ttl filter post-append (an expired entry must not serve the join
    // just because its re-fetch failed this run), newest fetch wins
    val dimNewest = CacheDim.newestPerKey(
      CacheDim.freshOnly(dimRaw, "api_fetched_at", ttlSeconds, nowSec),
      Seq(keyCol), "api_fetched_at")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(outputSchemaDdl)
    val dim = dimNewest
      .select(col(keyCol), from_json(col("api_response"), schema).as("api"))
      .select(col(keyCol) +: schema.fieldNames.toSeq.map(f => col(s"api.$f").as(f)): _*)
    df.join(broadcast(dim), df(keyCol).cast("string") === dim(keyCol), "left")
      .drop(dim(keyCol))
  }
}

/** Identity resolution (reference core/Identity.scala:32 — the batched
  * identity API that attaches a stable `snowplowId` per unique identifier
  * combination). Same joins-not-RPC shape as [[ApiLookup]], tuple-keyed:
  *
  *  1. the DISTINCT identifier TUPLES materialize (API traffic is bounded
  *     by |identities|, never |events| — the reference batches per chunk,
  *     this batches per corpus);
  *  2. tuples missing from the cache dim resolve ONCE through the
  *     injected transport (production: the identity API behind
  *     `RemoteResolver.httpTransport`; tests: a deterministic function);
  *  3. resolved ids append to the dim and broadcast back onto the fact.
  *
  * A tuple containing any NULL identifier never queries (nothing to
  * stitch on) and yields a null id. Transport misses (None) cache as null
  * ids; transport FAILURES yield null this run and retry next run —
  * the ApiLookup failure contract, which plays the reference's
  * CircuitBreaker role (a down API degrades to null identity contexts,
  * never a dead job).
  */
final case class IdentityLookup(
  keyCols: Seq[String],
  transport: Seq[String] => Option[String],
  outCol: String = "snowplow_id",
  cachePath: String = null,
  maxKeys: Long = 1000000L,
  breakerFailures: Int = 0
) extends Enrichment {
  val name = "identity"
  require(keyCols.nonEmpty, "identity needs at least one identifier column")
  require(keyCols.distinct == keyCols, "identifier columns must be distinct")

  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val nowSec = System.currentTimeMillis() / 1000L
    val keys = df.select(keyCols.map(c => col(c).cast("string")): _*)
      .na.drop("any").distinct()
    val emptyDim = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(
        keyCols.map(c => org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.StringType)) ++ Seq(
          org.apache.spark.sql.types.StructField(outCol, org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("id_fetched_at", org.apache.spark.sql.types.LongType))))
    val cached: DataFrame =
      if (cachePath == null) emptyDim
      else
        try CacheDim.read(spark, cachePath, "id_fetched_at")
        catch { case _: Exception => emptyDim }
    val missing = keys.join(cached.select(keyCols.map(col): _*), keyCols, "left_anti")
    val nMissing = missing.count()
    require(nMissing <= maxKeys,
      s"identity: $nMissing distinct identifier tuples exceed maxKeys=$maxKeys — " +
        "bound the identifier domain or raise the limit explicitly")
    val t = CircuitBreaker.guard(
      CircuitBreaker.freshId(name), breakerFailures)(transport)
    val n = keyCols.size
    val fetchedAt = nowSec
    val outSchema = org.apache.spark.sql.types.StructType(
      keyCols.map(c => org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.StringType)) ++ Seq(
        org.apache.spark.sql.types.StructField(outCol, org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("id_fetched_at", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_ok", org.apache.spark.sql.types.BooleanType)))
    val fetchedDf = missing.mapPartitions { it =>
      it.map { row =>
        val ks = (0 until n).map(row.getString)
        scala.util.Try(t(ks)) match {
          case scala.util.Success(v) =>
            org.apache.spark.sql.Row.fromSeq(ks ++ Seq(v.orNull, fetchedAt, true))
          case scala.util.Failure(_) =>
            org.apache.spark.sql.Row.fromSeq(ks ++ Seq(null, fetchedAt, false))
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    val dimRaw =
      if (cachePath == null) cached.unionByName(fetchedDf.where(col("_ok")).drop("_ok"))
      else {
        if (nMissing > 0)
          fetchedDf.where(col("_ok")).drop("_ok").write.mode("append").parquet(cachePath)
        try CacheDim.readCompacting(spark, cachePath, keyCols, "id_fetched_at", 0L, nowSec)
        catch { case _: Exception => cached }
      }
    // racing backfills can double-append a tuple: newest-fetch-wins keeps
    // the broadcast join row-preserving (identities are stable, so which
    // duplicate wins is immaterial — that there is ONE winner is not)
    val dim = CacheDim.newestPerKey(dimRaw, keyCols, "id_fetched_at")
    val joinKeys = keyCols.map(c => df(c).cast("string") === dim(c)).reduce(_ && _)
    var out = df.join(broadcast(dim), joinKeys, "left")
    keyCols.foreach(c => out = out.drop(dim(c)))
    out
  }
}

/** Cross-navigation `_sp` decoding (reference `registry/CrossNavigationEnrichment`):
  * both columns from one match ([[graft.plans.SpPairExpression]]); a
  * timestamp whose micros overflow a bigint is null. */
final case class CrossNavigation(spCol: String = "sp_qs") extends Enrichment {
  val name = "cross_navigation"
  def apply(df: DataFrame): DataFrame = {
    val sp = EventF.spParsed(col(spCol))
    df.withColumns(ListMap(
      "refr_domain_userid" -> sp.getField("duid"),
      "refr_dvce_tstamp_us" -> sp.getField("tstamp_us")))
  }
}

/** ASN lookup, the same range lookup as geo (reference
  * `registry/AsnLookupsEnrichment.scala`); [[applySpec]] is the broadcast
  * range-join twin. */
final case class IpAsnLookup(
  ranges: Seq[(Long, Long, Long, String)], // lo, hi, asn, org
  ipCol: String = "user_ipaddress",
  rangesPath: String = null, // parquet dim table instead of inline ranges
  loField: String = "lo",
  hiField: String = "hi",
  asnField: String = "ip_asn",
  orgField: String = "ip_organization"
) extends Enrichment {
  val name = "ip_asn_lookup"

  private def rangesDf(spark: SparkSession): DataFrame =
    spark.read.parquet(rangesPath).select(
      col(loField).cast("bigint").as("__lo"), col(hiField).cast("bigint").as("__hi"),
      col(asnField).cast("bigint").as("ip_asn"), col(orgField).cast("string").as("ip_organization"))

  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rows =
      if (rangesPath != null)
        DimLookup.collectRanges(rangesDf(spark).select(col("__lo"), col("__hi"),
          struct(col("ip_asn"), col("ip_organization"))))
      else ranges.map { case (lo, hi, asn, org) =>
        (lo, hi, InternalRow(java.lang.Long.valueOf(asn), UTF8String.fromString(org)))
      }
    val asn = DimLookup.column(spark, col(ipCol), IpRangeTable(name, rows, Nil), IpAsnLookup.Value)
    df.withColumns(ListMap(
      "ip_asn" -> asn.getField("ip_asn"),
      "ip_organization" -> asn.getField("ip_organization")))
  }

  /** The broadcast range-join twin of [[apply]]. */
  def applySpec(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dim = if (rangesPath != null) rangesDf(spark)
              else ranges.toDF("__lo", "__hi", "ip_asn", "ip_organization")
    RangeJoin.leftJoinRanges(df, IpF.ipv4ToLong(col(ipCol)), dim, "__lo", "__hi", 27)
      .drop("__lo", "__hi")
  }
}

object IpAsnLookup {
  private val Value = StructType(Seq(
    StructField("ip_asn", LongType), StructField("ip_organization", StringType)))
}

/** The remaining IpLookups segments (reference
  * `registry/IpLookupsEnrichment` via the MaxMind ISP / Domain /
  * Connection-Type databases → atomic `ip_isp` / `ip_domain` /
  * `ip_netspeed`, EnrichmentManager.scala:491): each configured segment is
  * one range lookup per row against its exported lo/hi ranges dim — the
  * same shape as geo/asn, with [[applySpec]] the broadcast range-join
  * twin. */
final case class IpSegmentLookup(
  segment: String, // isp | domain | connection
  ranges: Seq[(Long, Long, String)] = Nil, // lo, hi, value
  ipCol: String = "user_ipaddress",
  rangesPath: String = null, // parquet dim instead of inline ranges
  loField: String = "lo",
  hiField: String = "hi",
  valueField: String = null // defaults to the output column
) extends Enrichment {
  val outCol: String = segment match {
    case "isp" => "ip_isp"
    case "domain" => "ip_domain"
    case "connection" => "ip_netspeed"
    case other => throw new IllegalArgumentException(
      s"ip_segment_lookup: unknown segment '$other' (isp, domain, connection; geo/asn have their own enrichments)")
  }
  val name = s"ip_${segment}_lookup"

  private def rangesDf(spark: SparkSession): DataFrame =
    spark.read.parquet(rangesPath).select(
      col(loField).cast("bigint").as("__lo"), col(hiField).cast("bigint").as("__hi"),
      col(if (valueField == null) outCol else valueField).cast("string").as(outCol))

  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rows =
      if (rangesPath != null) DimLookup.collectRanges(rangesDf(spark))
      else ranges.map { case (lo, hi, v) => (lo, hi, UTF8String.fromString(v)) }
    df.withColumn(outCol, DimLookup.column(spark, col(ipCol), IpRangeTable(name, rows, Nil), StringType))
  }

  /** The broadcast range-join twin of [[apply]]. */
  def applySpec(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dim = if (rangesPath != null) rangesDf(spark) else ranges.toDF("__lo", "__hi", outCol)
    RangeJoin.leftJoinRanges(df, IpF.ipv4ToLong(col(ipCol)), dim, "__lo", "__hi", 27)
      .drop("__lo", "__hi")
  }
}

/** Weather-at-event enrichment (reference `registry/WeatherEnrichment.scala`:
  * per-event (geo_latitude, geo_longitude, time) → the OpenWeatherMap
  * observation at that place and time, cached per `geoPrecision` grid
  * cell). Per-event HTTP history lookups are the wrong shape at 100 TB —
  * the Spark-native form is an AS-OF JOIN against a materialized
  * observations dim:
  *
  *  - event coordinates round to the dim's grid (the reference's
  *    roundCoordinate: nearest 1/geoPrecision degree);
  *  - per grid cell, each event picks the LATEST observation at or before
  *    its timestamp — the time-BUCKETED as-of join
  *    ([[graft.operators.AsOfJoin.leftAsOfBucketed]]): plain per-key
  *    windows would bound parallelism by |grid cells| (a country-sized
  *    deployment has a few hundred), so the shuffle partitions on
  *    (cell, time-bucket) instead and stays wide at 100 TB;
  *  - events with null coordinates keep null weather columns.
  *
  * The observations dim is whatever history export the deployment owns:
  * `(lat_r, lon_r, obs_ts_us, …payload columns…)` parquet. */
final case class WeatherLookup(
  obsPath: String,
  geoPrecision: Int = 1,
  latCol: String = "geo_latitude",
  lonCol: String = "geo_longitude",
  tsCol: String = "derived_tstamp_us",
  obsLatField: String = "lat_r",
  obsLonField: String = "lon_r",
  obsTsField: String = "obs_ts_us",
  valueCols: Seq[String] = Seq("temp_c", "conditions"),
  bucketWidthUs: Long = 86400000000L // 1 day of epoch-micros per task bucket
) extends Enrichment {
  val name = "weather"
  require(geoPrecision >= 1, "weather: geoPrecision must be >= 1")
  require(valueCols.nonEmpty, "weather: need at least one observation column")
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val p = lit(geoPrecision.toDouble)
    // INTEGER grid keys on BOTH sides: equi-joining on round(x*p)/p doubles
    // would silently never match a dim whose lat_r came from different
    // float arithmetic (every weather column null, no diagnostic); the
    // grid-cell INDEX round(x*p) is exact for any real coordinate range
    def cell(c: Column) = round(c * p).cast("bigint")
    val withGrid = df
      .withColumn("__lat_k", cell(col(latCol)))
      .withColumn("__lon_k", cell(col(lonCol)))
    val obs = spark.read.parquet(obsPath).select(
      (Seq(cell(col(obsLatField).cast("double")).as("__lat_k"),
        cell(col(obsLonField).cast("double")).as("__lon_k"),
        col(obsTsField).cast("bigint").as("__obs_ts_us")) ++ valueCols.map(col)): _*)
    graft.operators.AsOfJoin
      .leftAsOfBucketed(withGrid, obs, Seq("__lat_k", "__lon_k"), tsCol, "__obs_ts_us",
        valueCols, bucketWidthUs)
      .drop("__lat_k", "__lon_k")
  }
}

/** Bot-ASN classification (reference `registry/AsnLookupsEnrichment.scala`:
  * flag events whose IP's ASN is on a bot list; platforms on the bypass
  * list are not classified). Expects `asnCol` upstream — chain after
  * [[IpAsnLookup]]. A null ASN (no range matched) classifies as false,
  * the reference's no-evidence default. */
final case class AsnBotFlag(
  botAsns: Set[Long],
  bypassPlatforms: Set[String] = Set.empty,
  asnCol: String = "ip_asn",
  platformCol: String = "platform",
  outCol: String = "asn_likely_bot"
) extends Enrichment {
  val name = "asn_bot_flag"
  require(botAsns.nonEmpty, "asn_lookups needs a non-empty bot-ASN list")
  def apply(df: DataFrame): DataFrame = {
    val flagged = coalesce(col(asnCol).isin(botAsns.toSeq: _*), lit(false))
    df.withColumn(outCol,
      if (bypassPlatforms.isEmpty) flagged
      else when(col(platformCol).isin(bypassPlatforms.toSeq: _*), lit(null).cast("boolean"))
        .otherwise(flagged))
  }
}

/** Event vendor/name/format/version columns (reference
  * `enrichments/SchemaEnrichment.scala` — maps each event to its Iglu
  * schema key; graft derives them from the atomic event type). */
final case class SchemaVendor(vendor: String = "com.snowplowanalytics.snowplow") extends Enrichment {
  val name = "schema_vendor"
  def apply(df: DataFrame): DataFrame =
    df.withColumn("event_vendor", when(col("event").isNotNull, lit(vendor)))
      .withColumn("event_name", col("event"))
      .withColumn("event_format", when(col("event").isNotNull, lit("jsonschema")))
      .withColumn("event_version", when(col("event").isNotNull, lit("1-0-0")))
}

/** HTTP header extraction (reference `registry/HttpHeaderExtractorEnrichment`). */
final case class HttpHeaderExtractor(headerCol: String) extends Enrichment {
  val name = "http_header_extractor"
  def apply(df: DataFrame): DataFrame =
    df.withColumn("header_name", EventF.headerName(col(headerCol)))
      .withColumn("header_value", EventF.headerValue(col(headerCol)))
}

/** Cookie extraction (reference `registry/CookieExtractorEnrichment`). */
final case class CookieExtractor(cookieHdrCol: String, cookieNames: Seq[String]) extends Enrichment {
  val name = "cookie_extractor"
  def apply(df: DataFrame): DataFrame =
    cookieNames.foldLeft(df)((d, n) =>
      d.withColumn(s"cookie_$n", EventF.cookieValue(col(cookieHdrCol), n)))
}

/** IAB-style bot/spider classification (reference
  * `registry/IabEnrichment.scala`, which checks the IAB/ABC bots & spiders
  * lists by UA and IP): a UA heuristic plus configured include lists,
  * compiled to per-row predicates — no per-record file lookup. */
final case class IabBotDetection(
  uaCol: String = "ua",
  ipCol: String = "user_ipaddress",
  botIpList: Seq[String] = Nil,
  botUaSubstrings: Seq[String] = Seq("bot", "crawler", "spider", "slurp")
) extends Enrichment {
  val name = "iab_bot_detection"
  def apply(df: DataFrame): DataFrame = {
    val uaHit = botUaSubstrings
      .map(s => lower(col(uaCol)).contains(s))
      .reduceOption(_ || _).getOrElse(lit(false))
    val ipHit = if (botIpList.isEmpty) lit(false) else col(ipCol).isin(botIpList: _*)
    df.withColumn("iab_spider_or_robot", coalesce(uaHit || ipHit, lit(false)))
      .withColumn("iab_category",
        when(ipHit, lit("BROWSER_IP_EXCLUDED"))
          .when(uaHit, lit("SPIDER_OR_ROBOT"))
          .otherwise(lit("BROWSER")))
  }
}

object IabBotDetection {
  /** Build the list-configured detector from the IAB membership files
    * themselves: active exclude-file patterns become UA substrings, bare
    * (/32) IP lines become the IP list. CIDR ranges wider than /32 and the
    * include-allowlist semantics need [[IabSpidersRobots]] — this bridge
    * keeps the simple substring detector constructible from the real files
    * without changing its behavior or the iab_bot oracle. */
  def fromIabFiles(
    ipFile: String,
    excludeFile: String,
    uaCol: String = "ua",
    ipCol: String = "user_ipaddress"
  ): IabBotDetection = {
    val ips = IabFiles.readLines(ipFile).map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .filter(l => !l.contains("/") || l.endsWith("/32"))
      .map(_.stripSuffix("/32")).toSeq
    val uas = IabFiles.parseExcludeFile(IabFiles.readLines(excludeFile)).map(_.pattern).toSeq
    IabBotDetection(uaCol, ipCol, botIpList = ips, botUaSubstrings = uas)
  }
}

/** Full-fidelity IAB spiders & robots classification from the membership
  * files (reference `registry/IabEnrichment.scala`): IP-exclude CIDRs →
  * UA include allowlist → UA exclude list with per-rule exceptions, in the
  * reference client's check order, emitting its four output fields
  * (`spiderOrRobot`, `category`, `reason`, `primaryImpact`). One codegen'd
  * expression per row ([[graft.plans.IabCheckExpression]]); the files parse
  * once on the driver ([[IabFiles]]). */
final case class IabSpidersRobots(
  cfg: IabFiles.Config,
  uaCol: String = "ua",
  ipCol: String = "user_ipaddress"
) extends Enrichment {
  val name = "iab_spiders_robots"
  def apply(df: DataFrame): DataFrame = {
    val checked = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.IabCheckExpression(
        org.apache.spark.sql.graft.ColumnBridge.expression(col(uaCol).cast("string")),
        org.apache.spark.sql.graft.ColumnBridge.expression(col(ipCol).cast("string")),
        cfg))
    df.withColumn("__iab_check", checked)
      .withColumn("iab_reason", substring_index(col("__iab_check"), "|", 1))
      .withColumn("iab_primary_impact", substring_index(col("__iab_check"), "|", -1))
      .withColumn("iab_category",
        when(col("iab_reason") === "PASSED_ALL", lit("BROWSER"))
          .when(col("iab_reason").isNotNull, lit("SPIDER_OR_ROBOT")))
      .withColumn("iab_spider_or_robot", col("iab_category") === "SPIDER_OR_ROBOT")
      .drop("__iab_check")
  }
}

/** Combined bot signal (reference `registry/BotDetectionEnrichment.scala`):
  * folds the per-source indicators other enrichments already derived — the
  * UA device-class robot signal (the reference's yauaa indicator), the IAB
  * spider-or-robot flag, and optionally an ASN blocklist hit — into one
  * `bot_detected` flag plus the `bot_indicators` JSON list of triggered
  * sources (the reference's `{bot, indicators}` output context). Indicator
  * order is fixed (iab, yauaa, asn) for determinism; the reference's order
  * follows its context-list fold. */
final case class BotDetection(
  useUa: Boolean = true,
  useIab: Boolean = true,
  useAsn: Boolean = false,
  deviceClassCol: String = "dvce_type",
  iabCol: String = "iab_spider_or_robot",
  asnCol: String = "ip_asn",
  botAsns: Seq[Long] = Nil
) extends Enrichment {
  val name = "bot_detection"
  def apply(df: DataFrame): DataFrame = {
    val indicators: Seq[(String, Column)] = Seq(
      "iab" -> (if (useIab) coalesce(col(iabCol), lit(false)) else lit(false)),
      "yauaa" -> (if (useUa) coalesce(col(deviceClassCol) === "Robot", lit(false)) else lit(false)),
      "asn" -> (if (useAsn && botAsns.nonEmpty) coalesce(col(asnCol).isin(botAsns: _*), lit(false)) else lit(false)))
    val hits = filter(
      array(indicators.map { case (n, c) => when(c, lit(n)) }: _*),
      x => x.isNotNull)
    df.withColumn("bot_indicators",
        concat(lit("["), array_join(transform(hits, x => concat(lit("\""), x, lit("\""))), ","), lit("]")))
      .withColumn("bot_detected", size(hits) > 0)
  }
}

/** The JavaScript-script escape hatch (reference
  * `registry/JavascriptScriptEnrichment`): an arbitrary user transform. */
final case class CustomTransform(name: String, f: DataFrame => DataFrame) extends Enrichment {
  def apply(df: DataFrame): DataFrame = f(df)
}

/** Atomic field length validation (reference `AtomicFieldsLengthValidator`):
  * truncates oversized values and flags them as bad.
  *
  * One kernel call per row ([[graft.plans.FieldLengthsExpression]]) whose
  * fields replace the limited columns in one `select`. [[applySpec]] is its
  * Column twin: one flat projection of a `length` check, a `CASE` and a
  * `substring` per field and one `concat` of per-field error arrays (a fold
  * of per-field `array_union`s would nest ~70 growing expressions and blow
  * up the optimizer). Over the default chain's 28 limited fields the twin
  * adds 4,038 bytes to the chain's generated method, enough on its own to
  * push it past HotSpot's 8,000-byte JIT limit. */
final case class FieldLengthValidator(limits: Map[String, Int], truncate: Boolean = true)
    extends Enrichment {
  val name = "field_lengths"

  private def present(df: DataFrame): Seq[(String, Int)] =
    limits.filter { case (c, _) => df.columns.contains(c) }.toSeq.sortBy(_._1)

  private def prevErrors(df: DataFrame): Column =
    if (df.columns.contains("bad_row_errors")) col("bad_row_errors") else Enrichment.emptyFailures

  def apply(df: DataFrame): DataFrame = {
    val fields = present(df)
    if (fields.isEmpty) return df
    val k = EventF.fieldLengths(fields.map { case (c, max) => (c, col(c), max) },
      prevErrors(df), truncate, name)
    val truncated = if (truncate) fields.map(_._1).toSet else Set.empty[String]
    val outCols = df.columns.toSeq.filterNot(_ == "bad_row_errors").map { c =>
      if (truncated(c)) k.getField(c).as(c) else col(c)
    }
    df.select(outCols :+ k.getField("bad_row_errors").as("bad_row_errors"): _*)
  }

  /** The Column specification twin of [[apply]]. */
  def applySpec(df: DataFrame): DataFrame = {
    val present = this.present(df)
    if (present.isEmpty) return df
    val empty = Enrichment.emptyFailures
    val errArrays = present.map { case (c, max) =>
      when(length(col(c)) > max, array(struct(
        lit(name).as("enrichment"), lit("length_violation").as("failure_type"),
        lit(null).cast("string").as("schema_key"),
        lit(s"$c exceeds $max chars").as("message")))).otherwise(empty)
    }
    val errors = concat(prevErrors(df) +: errArrays: _*).as("bad_row_errors")
    val outCols = df.columns.filterNot(_ == "bad_row_errors").map { c =>
      present.find(_._1 == c) match {
        case Some((_, max)) if truncate => substring(col(c), 1, max).as(c)
        case _ => col(c)
      }
    }
    df.select(scala.collection.immutable.ArraySeq.unsafeWrapArray(outCols :+ errors): _*)
  }
}

/** Ordered enrichment chain (the reference's `EnrichmentManager.enrichEvent`
  * order). One Catalyst plan; narrow unless a lookup join is present. */
final case class EnrichmentPipeline(enrichments: Seq[Enrichment]) {
  def run(df: DataFrame): DataFrame = {
    val withBad = df.withColumn("bad_row_errors", Enrichment.emptyFailures)
    enrichments.foldLeft(withBad)((d, e) => e.apply(d))
  }

  /** (good, bad) split — the reference's enriched/bad output streams.
    * Each side is its own plan over the chain: an action on both runs the
    * chain once per side (see [[withSplit]] for one pass). */
  def split(df: DataFrame): (DataFrame, DataFrame) = sides(run(df))

  /** The two sides over a [[graft.plans.SplitBarrier]]: each side's
    * filter stays above the chain instead of re-evaluating it. */
  private def sides(enriched: DataFrame): (DataFrame, DataFrame) = {
    val rows = graft.plans.SplitBarrier(enriched)
    (rows.filter(size(col("bad_row_errors")) === 0), rows.filter(size(col("bad_row_errors")) > 0))
  }

  /** ONE-PASS good/bad split with the reference's two-sink layout: `f` gets
    * the good and bad sides of one enrichment pass. The enriched rows are
    * kept at row level (`MEMORY_AND_DISK`, lineage kept) by the first
    * action `f` runs over either side; every later action reads them back
    * instead of re-running the chain, and no side's `size(bad_row_errors)`
    * predicate can be pushed into the chain's projections. The rows are
    * unpersisted when `f` returns or throws. With a single consumer, use
    * [[split]]: it stores nothing. */
  def withSplit[T](df: DataFrame)(f: (DataFrame, DataFrame) => T): T = {
    val (enriched, rows) = PlanBridge.persistRows(run(df))
    try f.tupled(sides(enriched))
    finally rows.unpersist(blocking = true)
  }

  /** The bad side serialized to the reference's self-describing bad-row
    * envelope (see [[BadRows]]): one `bad_row` JSON column per failed event
    * carrying processor + the failure contexts + the replay payload.
    * `payloadCols` should name the RAW collector columns (graft enrichments
    * add derived columns; the in-place mutators — AnonIp, PiiPseudonymize —
    * rewrite their own column, so a payload that must stay pristine for
    * replay should be copied aside before such an enrichment runs). */
  def badRowsJson(df: DataFrame, payloadCols: Seq[String], etlTstampUs: Column): DataFrame = {
    val (_, bad) = split(df)
    bad.withColumn("bad_row",
      BadRows.badRowJson(col("bad_row_errors"), struct(payloadCols.map(col): _*), etlTstampUs))
  }
}

/** One field predicate inside a registered schema: a dot path into the
  * self-describing `data` payload plus JSON-Schema-style constraints
  * (required / type / enum / pattern / integer bounds / array items).
  * Patterns are full-match and must stay RE2-safe so the DuckDB oracle can
  * share them.
  *
  * `itemsType` ("bigint" | "double" | "boolean") validates ARRAY elements
  * (JSON-Schema `items.type`) via a bounded literal-index probe — the same
  * no-explode design ContextsValidate uses, so the check stays a codegen'd
  * projection; elements past `itemsProbe` flag `items_overflow` rather than
  * silently passing. `maxItems` bounds the array length (`length_violation`).
  */
final case class FieldSpec(
  path: String,
  required: Boolean = false,
  typ: String = "string", // string | bigint | double | boolean
  enumVals: Seq[String] = Nil,
  pattern: String = null,
  min: Option[Long] = None,
  max: Option[Long] = None,
  itemsType: String = null, // bigint | double | boolean — element type of a JSON array
  itemsProbe: Int = 8,
  maxItems: Option[Int] = None,
  // `$ref` (reference: networknt validator behind utils/IgluUtils.scala):
  // the registered spec this field's OBJECT payload conforms to — its
  // fields mount under `path` at driver compile (see FieldSpec.resolve)
  ref: String = null)

object FieldSpec {
  /** Driver-side `$ref` expansion: a field carrying `ref` pulls the
    * referenced registry entry's fields in under its own path, recursively.
    * Unknown refs and reference cycles fail at PLAN BUILD with the chain
    * spelled out — loudly on the driver, never per row (the same
    * fail-at-compile posture as graft.js and SchemaCriterion). */
  def resolve(specs: Map[String, Seq[FieldSpec]]): Map[String, Seq[FieldSpec]] = {
    def expand(fields: Seq[FieldSpec], stack: List[String]): Seq[FieldSpec] =
      fields.flatMap { f =>
        if (f.ref == null) Seq(f)
        else {
          if (stack.contains(f.ref)) throw new IllegalArgumentException(
            s"schema_validate: $$ref cycle: ${(f.ref :: stack).reverse.mkString(" -> ")}")
          val target = specs.getOrElse(f.ref, throw new IllegalArgumentException(
            s"schema_validate: $$ref '${f.ref}' is not a registered schema (from ${stack.head})"))
          f.copy(ref = null) +:
            expand(target, f.ref :: stack).map(t => t.copy(path = s"${f.path}.${t.path}"))
        }
      }
    specs.map { case (uri, fs) => uri -> expand(fs, List(uri)) }
  }
}

/** Iglu SchemaCriterion matching (reference `utils/IgluUtils.scala` /
  * iglu-scala-core `SchemaCriterion.matches`): a registered key may carry
  * `*` in the model / revision / addition slots of its SchemaVer —
  * `iglu:com.acme/cart/jsonschema/1-0-*` matches any addition of model 1
  * revision 0. Exact keys (no `*`) compare as plain strings, so existing
  * registries are unchanged. Wildcard keys compile ONCE at plan build to a
  * single anchored RE2-safe regex (no lookahead — the DuckDB oracle shares
  * the same pattern), so the per-row cost is one regex match, not a
  * parse-and-compare. */
object SchemaCriterion {
  private val CriterionRe =
    "^iglu:([^/]+)/([^/]+)/([^/]+)/(\\*|[0-9]+)-(\\*|[0-9]+)-(\\*|[0-9]+)$".r

  /** Escape a literal for embedding in an RE2-safe regex (no \\Q\\E —
    * DuckDB's RE2 does not support quote blocks). */
  private def escapeRe(s: String): String =
    s.flatMap(c => if ("\\^$.|?*+()[]{}".indexOf(c) >= 0) s"\\$c" else c.toString)

  /** The anchored regex a wildcard criterion compiles to (also emitted into
    * oracle SQL twins). Throws on a malformed criterion at plan build —
    * loudly, not per row. */
  def regexFor(key: String): String = key match {
    case CriterionRe(vendor, name, format, m, r, a) =>
      def slot(s: String) = if (s == "*") "[0-9]+" else s
      s"^iglu:${escapeRe(vendor)}/${escapeRe(name)}/${escapeRe(format)}/" +
        s"${slot(m)}-${slot(r)}-${slot(a)}$$"
    case _ =>
      throw new IllegalArgumentException(
        s"schema_validate: '$key' is not a valid Iglu schema criterion " +
          "(expected iglu:vendor/name/format/M-R-A with * allowed in M/R/A)")
  }

  /** Column predicate: does the event's `uri` match the registered `key`? */
  def matches(uri: Column, key: String): Column =
    if (!key.contains("*")) uri === key else uri.rlike(regexFor(key))
}

/** Iglu-style schema validation of a self-describing JSON column (reference
  * `utils/IgluUtils.scala:42`): the event's schema URI must be registered —
  * by exact URI or by [[SchemaCriterion]] wildcard (`1-0-*` accepts any
  * addition, `1-*-*` any revision) —
  * and every [[FieldSpec]] predicate must hold — failures flow to the
  * bad-row channel with the reference's typed taxonomy (schema_unknown /
  * missing_field / type_violation / enum_violation / pattern_violation /
  * range_violation / items_violation / length_violation / unknown_key),
  * they never kill the job. Nested fields use dot paths ("meta.src").
  *
  * @param specs registered schemas: URI → field predicates (flag order =
  *              spec order, then missing/type/enum/pattern/range/items per
  *              field)
  * @param closedSchemas schemas with `additionalProperties: false`: any
  *              TOP-LEVEL key of `data` not declared as (the first segment
  *              of) a spec path flags `unknown_key`
  */
final case class SchemaValidate(
  jsonCol: String,
  schemaCol: String,
  specs: Map[String, Seq[FieldSpec]],
  closedSchemas: Set[String] = Set.empty
) extends Enrichment {
  val name = "schema_validate"
  def apply(df: DataFrame): DataFrame = {
    val resolved = FieldSpec.resolve(specs) // $ref mounts expand once, here
    // exact keys keep the In/InSet hash probe; only wildcard criteria pay
    // for a regex — a registry of hundreds of exact URIs stays O(1) per row
    val (wildKeys, exactKeys) = resolved.keys.toSeq.partition(_.contains("*"))
    val knownPred = ((if (exactKeys.nonEmpty) Seq(col(schemaCol).isin(exactKeys: _*)) else Nil) ++
        wildKeys.map(k => SchemaCriterion.matches(col(schemaCol), k)))
      .reduceOption(_ || _).getOrElse(lit(false))
    val d1 = flagBad(df, col(schemaCol).isNotNull && !knownPred, "schema_unknown",
      failureType = "schema_unknown", schemaKey = col(schemaCol))
    val fieldsChecked = resolved.foldLeft(d1) { case (acc, (uri, fields)) =>
      val inSchema = SchemaCriterion.matches(col(schemaCol), uri)
      fields.foldLeft(acc) { (a0, f) =>
        val raw = get_json_object(col(jsonCol), s"$$.${f.path}")
        val castType = f.typ match {
          case "bigint" => "BIGINT"
          case "double" => "DOUBLE"
          case "boolean" => "BOOLEAN"
          case _ => null
        }
        val cast =
          if (castType == null) null
          else expr(s"try_cast(get_json_object($jsonCol, '$$.${f.path}') AS $castType)")
        var a = a0
        if (f.required)
          a = flagBad(a, inSchema && raw.isNull, s"missing_field ${f.path}",
            failureType = "missing_field", schemaKey = lit(uri))
        if (cast != null)
          a = flagBad(a, inSchema && raw.isNotNull && cast.isNull, s"type_violation ${f.path}",
            failureType = "type_violation", schemaKey = lit(uri))
        if (f.enumVals.nonEmpty)
          a = flagBad(a, inSchema && raw.isNotNull && !raw.isin(f.enumVals: _*),
            s"enum_violation ${f.path}", failureType = "enum_violation", schemaKey = lit(uri))
        if (f.pattern != null)
          a = flagBad(a, inSchema && raw.isNotNull && !raw.rlike(s"^(?:${f.pattern})$$"),
            s"pattern_violation ${f.path}", failureType = "pattern_violation", schemaKey = lit(uri))
        if (f.min.isDefined || f.max.isDefined) {
          val c = if (cast != null) cast
                  else expr(s"try_cast(get_json_object($jsonCol, '$$.${f.path}') AS BIGINT)")
          val oob = Seq(
            f.min.map(m => c < m),
            f.max.map(m => c > m)).flatten.reduce(_ || _)
          a = flagBad(a, inSchema && c.isNotNull && oob, s"range_violation ${f.path}",
            failureType = "range_violation", schemaKey = lit(uri))
        }
        if (f.itemsType != null) {
          // bounded literal-index probe (no explode): element i is bad when
          // present but not castable to the items type
          val itemT = f.itemsType.toUpperCase
          val anyBad = (0 until f.itemsProbe).map { i =>
            val el = get_json_object(col(jsonCol), s"$$.${f.path}[$i]")
            val elCast = expr(s"try_cast(get_json_object($jsonCol, '$$.${f.path}[$i]') AS $itemT)")
            el.isNotNull && elCast.isNull
          }.reduce(_ || _)
          a = flagBad(a, inSchema && raw.isNotNull && anyBad, s"items_violation ${f.path}",
            failureType = "items_violation", schemaKey = lit(uri))
          a = flagBad(a,
            inSchema && get_json_object(col(jsonCol), s"$$.${f.path}[${f.itemsProbe}]").isNotNull,
            s"items_overflow ${f.path}", failureType = "items_overflow", schemaKey = lit(uri))
        }
        if (f.maxItems.isDefined) {
          val n = expr(s"json_array_length(get_json_object($jsonCol, '$$.${f.path}'))")
          a = flagBad(a, inSchema && raw.isNotNull && n > f.maxItems.get,
            s"length_violation ${f.path}", failureType = "length_violation", schemaKey = lit(uri))
        }
        a
      }
    }
    // additionalProperties: false — any undeclared TOP-LEVEL data key
    closedSchemas.foldLeft(fieldsChecked) { (a, uri) =>
      val declared = resolved.getOrElse(uri, Nil).map(_.path.split('.').head).distinct
      val unknown = expr(
        s"exists(json_object_keys($jsonCol), k -> NOT k IN (${declared.map(d => s"'$d'").mkString(", ")}))")
      flagBad(a, SchemaCriterion.matches(col(schemaCol), uri) && coalesce(unknown, lit(false)),
        "unknown_key", failureType = "unknown_key", schemaKey = lit(uri))
    }
  }
}

/** Validation of a self-describing CONTEXTS array column (reference
  * `utils/IgluUtils.scala:71` extractAndValidateInputContexts): each element
  * `{"schema": uri, "data": {…}}` is checked against the registry —
  * unknown-schema or missing-required elements are counted and the first
  * offending uri flows to the bad-row channel. The whole check is one
  * codegen'd projection (literal JSONPath probes up to [[maxContexts]]
  * elements — get_json_object requires foldable paths): no explode, no
  * shuffle, 100 TB-safe. Events with more than [[maxContexts]] contexts
  * flag `contexts_overflow` rather than silently skipping the tail.
  *
  * @param specs registered schemas: URI → required dot paths in `data`
  */
final case class ContextsValidate(
  contextsCol: String,
  specs: Map[String, Seq[String]],
  maxContexts: Int = 8
) extends Enrichment {
  val name = "contexts_validate"
  def apply(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    val known = specs.keys.toSeq
    def badAt(i: Int): Column = {
      val elem = get_json_object(col(contextsCol), s"$$[$i]")
      val uri = get_json_object(col(contextsCol), s"$$[$i].schema")
      val unknown = known.map(uri =!= _).reduceOption(_ && _).getOrElse(lit(true)) || uri.isNull
      val missing = specs.toSeq.map { case (u, reqs) =>
        uri === u && reqs
          .map(r => get_json_object(col(contextsCol), s"$$[$i].data.$r").isNull)
          .reduceOption(_ || _).getOrElse(lit(false))
      }.reduceOption(_ || _).getOrElse(lit(false))
      when(elem.isNull, lit(null)) // no element at this index
        .when(unknown || missing, uri) // bad: carry the offending uri
        .otherwise(lit(null)) // valid
    }
    val present = (0 until maxContexts).map(i =>
      get_json_object(col(contextsCol), s"$$[$i]").isNotNull.cast("int"))
    val bads = array((0 until maxContexts).map(badAt): _*)
    val out = df
      .withColumn("ctx_count", present.reduce(_ + _))
      .withColumn("ctx_invalid_count", size(filter(bads, _.isNotNull)))
      .withColumn("ctx_first_bad_schema", get(filter(bads, _.isNotNull), lit(0)))
    val flagged = flagBad(out, col("ctx_invalid_count") > 0, "invalid_context",
      failureType = "invalid_context", schemaKey = col("ctx_first_bad_schema"))
    flagBad(flagged,
      get_json_object(col(contextsCol), s"$$[$maxContexts]").isNotNull, "contexts_overflow",
      failureType = "contexts_overflow")
  }
}

object EnrichmentPipeline {
  /** The default chain, mirroring EnrichmentManager's fixed order. */
  def default(internalDomains: Seq[String], rates: Seq[(String, Long)],
              geoRanges: Seq[(Long, Long, String)]): EnrichmentPipeline =
    EnrichmentPipeline(Seq(
      TrackerTransform(),
      DerivedTstamp(),
      PageUrlParse(),
      CampaignAttribution(),
      RefererParser(internalDomains = internalDomains),
      UaParser(),
      IpGeoLookup(geoRanges),
      CurrencyConversion(rates),
      CrossNavigation(),
      AnonIp(),
      PiiPseudonymize(Seq("user_id"), "pepper"),
      EventFingerprint("md5", Seq("event_code", "platform_code", "res")),
      FieldLengthValidator(graft.model.Atomic.fieldLengths)
    ))
}
