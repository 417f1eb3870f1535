package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** URL / querystring kernels.
  *
  * Mirrors snowplow/enrich `common/utils/ConversionUtils.scala`
  * (stringToUri + explodeUri → page_urlscheme/host/port/path/query/fragment,
  * reference `outputs/EnrichedEvent.scala:98-111`) and the querystring
  * extraction used by `CampaignAttributionEnrichment.scala:105`.
  *
  * Specified by regexes (not `parse_url`) so the DuckDB oracle can run the
  * byte-identical pattern; since r16 the Spark side EXECUTES them as ONE
  * fused codegen'd parse per row ([[graft.plans.UrlParseExpression]] →
  * [[parseUrlParts]]) instead of six java.util.regex finds — the `*Spec`
  * Column twins keep the regex spellings and a differential property spec
  * pins kernel == twin over a URL universe.
  */
object UrlF {

  /** One fused parse: struct(scheme, host, port, eport, path, query,
    * fragment) — each field null exactly where the regex+nullif twin is.
    * Multiple getFields of the same URL column collapse to ONE per-row
    * parse under whole-stage-codegen subexpression elimination. */
  def urlParsed(url: Column): Column =
    ColumnBridge.column(graft.plans.UrlParseExpression(ColumnBridge.expression(url)))

  def urlScheme(url: Column): Column = urlParsed(url).getField("scheme")

  def urlHost(url: Column): Column = urlParsed(url).getField("host")

  /** Explicit port if present (unparseable digit runs → null, never the
    * scheme default), else the scheme default (80/443), else null. */
  def urlPort(url: Column): Column = urlParsed(url).getField("port")

  def urlPath(url: Column): Column = urlParsed(url).getField("path")

  def urlQuery(url: Column): Column = urlParsed(url).getField("query")

  def urlFragment(url: Column): Column = urlParsed(url).getField("fragment")

  // ---- regex specification twins (pinned == kernel by PropertySpec) ----

  def urlSchemeSpec(url: Column): Column =
    nullif(regexp_extract(url, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1), lit(""))

  def urlHostSpec(url: Column): Column =
    nullif(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)", 1), lit(""))

  /** Explicit port if present, else the scheme default (80/443), else null.
    * try_cast: the digit run is unbounded, and under ANSI a 20-digit "port"
    * in one crafted URL would otherwise abort the job. */
  def urlPortSpec(url: Column): Column = {
    val explicit = nullif(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/:?#]*:([0-9]+)", 1), lit(""))
    when(explicit.isNotNull, explicit.try_cast("int"))
      .when(urlSchemeSpec(url) === "https", lit(443))
      .when(urlSchemeSpec(url) === "http", lit(80))
      .otherwise(lit(null).cast("int"))
  }

  def urlPathSpec(url: Column): Column =
    nullif(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)", 1), lit(""))

  def urlQuerySpec(url: Column): Column =
    nullif(regexp_extract(url, "\\?([^#]*)", 1), lit(""))

  def urlFragmentSpec(url: Column): Column =
    nullif(regexp_extract(url, "#(.*)$", 1), lit(""))

  // ---- imperative parse core (the fused kernel's twin of the regexes) ----

  /** Parsed URL parts; a field is null exactly where the corresponding
    * `nullif(regexp_extract(...), '')` spec twin yields null. `eport` is
    * the raw explicit-port digit run (leading zeros preserved); `port` is
    * the try_cast + scheme-default logic of [[urlPortSpec]]. */
  final case class UrlParts(
    scheme: String, host: String, port: Integer, eport: String,
    path: String, query: String, fragment: String)

  private def isAlpha(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  private def isSchemeChar(c: Char): Boolean =
    isAlpha(c) || (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'
  private def isLineTerm(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  /** `#(.*)$` under java.util.regex: first '#' whose remainder (up to a
    * line terminator) sits at end-of-input or before a FINAL terminator --
    * '.' does not cross line terminators and '$' (no MULTILINE) only
    * matches at the end. Empty capture -> null (the nullif). */
  private def fragmentOf(u: String): String = {
    var from = 0
    while (from <= u.length) {
      val h = u.indexOf('#', from)
      if (h < 0) return null
      val rest = u.substring(h + 1)
      var stop = 0
      while (stop < rest.length && !isLineTerm(rest.charAt(stop))) stop += 1
      if (stop == rest.length) return if (rest.isEmpty) null else rest
      val tail = rest.substring(stop)
      // a single terminator char, or "\r\n", at the very end is a valid
      // final-line-terminator position for '$'
      if (tail.length == 1 || tail == "\r\n") {
        val cap = rest.substring(0, stop)
        return if (cap.isEmpty) null else cap
      }
      from = h + 1
    }
    null
  }

  /** try_cast('int') of a digit-only run: null on int overflow. Leading
    * zeros do not count towards the length (try_cast reads 000…080 as 80). */
  private def tryParsePort(s: String): Integer = {
    var i = 0
    while (i < s.length - 1 && s.charAt(i) == '0') i += 1
    if (s.length - i > 10) null
    else {
      val v = s.substring(i).toLong
      if (v > Int.MaxValue) null else Integer.valueOf(v.toInt)
    }
  }

  /** One-pass imperative twin of the six URL regexes (see the `*Spec`
    * Columns above for the exact patterns being mirrored). */
  def parseUrlParts(u: String): UrlParts = {
    val n = u.length
    // scheme: ^([a-zA-Z][a-zA-Z0-9+.-]*):// — maximal run then literal "://"
    var schemeEnd = -1
    if (n > 0 && isAlpha(u.charAt(0))) {
      var j = 1
      while (j < n && isSchemeChar(u.charAt(j))) j += 1
      if (u.regionMatches(j, "://", 0, 3)) schemeEnd = j
    }
    var scheme: String = null
    var host: String = null
    var port: Integer = null
    var eport: String = null
    var path: String = null
    if (schemeEnd > 0) {
      scheme = u.substring(0, schemeEnd)
      val hostStart = schemeEnd + 3
      // host: ([^/:?#]*) after "://"
      var k = hostStart
      while (k < n && {
        val c = u.charAt(k); c != '/' && c != ':' && c != '?' && c != '#'
      }) k += 1
      if (k > hostStart) host = u.substring(hostStart, k)
      // explicit port: ':' + [0-9]+ right after the host run
      if (k < n && u.charAt(k) == ':') {
        var d = k + 1
        while (d < n && u.charAt(d) >= '0' && u.charAt(d) <= '9') d += 1
        if (d > k + 1) eport = u.substring(k + 1, d)
      }
      port =
        if (eport != null) tryParsePort(eport)
        else if (scheme == "https") Integer.valueOf(443)
        else if (scheme == "http") Integer.valueOf(80)
        else null
      // path: skip [^/?#]* (':' + port included in the skip) then (/[^?#]*)
      var m = hostStart
      while (m < n && {
        val c = u.charAt(m); c != '/' && c != '?' && c != '#'
      }) m += 1
      if (m < n && u.charAt(m) == '/') {
        var pEnd = m
        while (pEnd < n && u.charAt(pEnd) != '?' && u.charAt(pEnd) != '#') pEnd += 1
        path = u.substring(m, pEnd) // starts with '/', never empty
      }
    }
    // query: \?([^#]*) — first '?' ANYWHERE, capture to the next '#' or end
    var query: String = null
    val q = u.indexOf('?')
    if (q >= 0) {
      val h2 = u.indexOf('#', q + 1)
      val qe = if (h2 < 0) n else h2
      if (qe > q + 1) query = u.substring(q + 1, qe)
    }
    UrlParts(scheme, host, port, eport, path, query, fragmentOf(u))
  }

  private def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  /** Per-row entry for [[graft.plans.UrlParseExpression]]. */
  def parseUrlRow(u: UTF8String): InternalRow = {
    val p = parseUrlParts(u.toString)
    new GenericInternalRow(Array[Any](
      utf8(p.scheme), utf8(p.host), p.port, utf8(p.eport),
      utf8(p.path), utf8(p.query), utf8(p.fragment)))
  }

  /** Value of querystring parameter `key` inside a raw querystring
    * ("a=1&b=2"); null when absent. `key` must be regex-safe. */
  def qsParam(qs: Column, key: String): Column =
    nullif(regexp_extract(qs, "(?:^|&)" + key + "=([^&]*)", 1), lit(""))

  /** Same, but takes the full URL. */
  def urlParam(url: Column, key: String): Column = qsParam(urlQuery(url), key)

  /** First non-null among `keys` looked up in querystring `qs`
    * (reference `CampaignAttributionEnrichment.getFirstParameter`); an
    * empty candidate list yields null (the reference's e1 vector — an
    * unconfigured field stays empty, and a zero-arg coalesce would fail
    * analysis). */
  def firstParam(qs: Column, keys: Seq[String]): Column =
    if (keys.isEmpty) lit(null).cast("string")
    else coalesce(keys.map(qsParam(qs, _)): _*)

  /** Form-decoded querystring value ('+' → space, %XX unescaped) — the
    * reference decodes every tracker param at extraction time
    * (`ConversionUtils.extractQuerystring` → URLDecoder), so campaign
    * fields carry "native american tarot deck", not
    * "native+american+tarot+deck". try_: a truncated escape nulls the
    * value instead of aborting under ANSI. */
  def qsValueDecoded(v: Column): Column = try_url_decode(v)

  /** [[firstParam]] with the winning value form-decoded. Decoding after the
    * precedence pick is equivalent to the reference's decode-then-pick:
    * decoding never turns a present value into an absent one. */
  def firstParamDecoded(qs: Column, keys: Seq[String]): Column =
    qsValueDecoded(firstParam(qs, keys))

  // ---- imperative querystring core (campaign-attribution kernel twin) ----

  /** Imperative twin of [[qsParam]]'s `(?:^|&)key=([^&]*)` + nullif:
    * first occurrence of `key` at a pair boundary; null when absent OR the
    * value is empty (so [[firstParam]]'s present-but-empty fall-through is
    * preserved). */
  def qsParamRaw(qs: String, key: String): String = {
    val klen = key.length
    var from = 0
    while (from <= qs.length - klen) {
      val i = qs.indexOf(key, from)
      if (i < 0) return null
      if ((i == 0 || qs.charAt(i - 1) == '&') &&
          i + klen < qs.length && qs.charAt(i + klen) == '=') {
        var e = i + klen + 1
        while (e < qs.length && qs.charAt(e) != '&') e += 1
        return if (e == i + klen + 1) null else qs.substring(i + klen + 1, e)
      }
      from = i + 1
    }
    null
  }

  /** [[qsParamRaw]] for every key of `keys` in ONE walk over `qs`: slot i
    * holds the value of the first pair whose name (the text before the
    * pair's first '=') is `keys(i)`, null when no pair names it or that
    * first value is empty. A pair without '=' names nothing. Equal to
    * `keys.map(qsParamRaw(qs, _))` for keys without '&' or '='. */
  def qsParamsRaw(qs: String, keys: Array[String]): Array[String] = {
    val out = new Array[String](keys.length)
    val found = new Array[Boolean](keys.length)
    var left = keys.length
    val n = qs.length
    var start = 0 // first char of the current pair
    var eq = -1 // its first '=', or -1
    var i = 0
    while (i <= n && left > 0) {
      val c = if (i < n) qs.charAt(i) else '&'
      if (c == '&') {
        if (eq >= 0) {
          var k = 0
          while (k < keys.length) {
            val key = keys(k)
            if (!found(k) && key.length == eq - start && qs.startsWith(key, start)) {
              found(k) = true
              left -= 1
              if (i > eq + 1) out(k) = qs.substring(eq + 1, i)
            }
            k += 1
          }
        }
        start = i + 1
        eq = -1
      } else if (c == '=' && eq < 0) eq = i
      i += 1
    }
    out
  }

  /** One querystring walk for all of `keys`: struct(key₁, …, keyₙ) of raw
    * values, each field equal to [[qsParam]]`(qs, keyᵢ)` — the Column entry
    * point for [[graft.plans.TrackerParamsExpression]]. */
  def trackerParams(qs: Column, keys: Seq[String]): Column =
    ColumnBridge.column(graft.plans.TrackerParamsExpression(ColumnBridge.expression(qs), keys))

  /** Per-row entry for [[graft.plans.TrackerParamsExpression]]. */
  def trackerParamsRow(qs: UTF8String, keys: Array[String]): InternalRow =
    new GenericInternalRow(qsParamsRaw(qs.toString, keys).map(v => utf8(v): Any))

  /** Imperative twin of Spark's `try_url_decode` (form decoding, UTF-8;
    * malformed %-escapes null the value instead of aborting). */
  def tryUrlDecodeString(v: String): String =
    if (v == null) null
    else
      try java.net.URLDecoder.decode(v, java.nio.charset.StandardCharsets.UTF_8)
      catch { case _: IllegalArgumentException => null }

  /** One fused campaign extraction: struct(medium, source, term, content,
    * campaign, clickid, network) per row — the Column entry point for
    * [[graft.plans.CampaignAttributionExpression]]. */
  def campaignParsed(qs: Column, cfg: CampaignCfg): Column =
    ColumnBridge.column(graft.plans.CampaignAttributionExpression(
      ColumnBridge.expression(qs), cfg))

  /** Campaign-attribution config carried by the fused kernel
    * ([[graft.plans.CampaignAttributionExpression]]); field order matches
    * the output struct. */
  final case class CampaignCfg(
    mediumParams: Seq[String], sourceParams: Seq[String],
    termParams: Seq[String], contentParams: Seq[String],
    campaignParams: Seq[String], clickIdNetworks: Seq[(String, String)])

  /** Per-row campaign extraction: for each field, the FIRST key (in config
    * order) with a non-empty raw value wins, then the winner form-decodes
    * (decode failure → null, no fall-through) — exactly
    * [[firstParamDecoded]]'s coalesce + try_url_decode shape. clickid picks
    * the first non-empty click-id value; network the first click-id KEY
    * present with a non-empty value. */
  def campaignRow(qsU: UTF8String, cfg: CampaignCfg): InternalRow = {
    val qs = qsU.toString
    def first(keys: Seq[String]): UTF8String = {
      val it = keys.iterator
      while (it.hasNext) {
        val raw = qsParamRaw(qs, it.next())
        if (raw != null) return utf8(tryUrlDecodeString(raw))
      }
      null
    }
    var clickid: UTF8String = null
    var network: UTF8String = null
    var hit = false
    val it = cfg.clickIdNetworks.iterator
    while (it.hasNext && !hit) {
      val (k, v) = it.next()
      val raw = qsParamRaw(qs, k)
      if (raw != null) {
        // the first present key decides BOTH fields: a failed decode nulls
        // clickid without falling through (coalesce picked the raw already)
        hit = true
        clickid = utf8(tryUrlDecodeString(raw))
        network = utf8(v)
      }
    }
    new GenericInternalRow(Array[Any](
      first(cfg.mediumParams), first(cfg.sourceParams), first(cfg.termParams),
      first(cfg.contentParams), first(cfg.campaignParams), clickid, network))
  }

  /** Tracking-parameter names stripped by [[canonicalizeUrl]] (shared with
    * the SQL twin; utm_ prefix handled separately). */
  val TrackingParams: Seq[String] = Seq("gclid", "fbclid", "msclkid", "dclid")

  /** Canonical URL for web-corpus dedup: lowercase scheme+host, default
    * ports stripped, tracking params (utm_ prefix + click ids) removed,
    * fragment dropped, empty path → "/". Null when scheme or host missing.
    * Two pages differing only in tracking noise canonicalize identically —
    * the key a URL-level dedup groups on. */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(urlScheme(url))
    val host = lower(urlHost(url))
    val explicitPort = urlParsed(url).getField("eport")
    val keepPort = when(
      explicitPort.isNotNull &&
        !((scheme === "http" && explicitPort === "80") ||
          (scheme === "https" && explicitPort === "443")),
      concat(lit(":"), explicitPort)).otherwise(lit(""))
    val path = coalesce(urlPath(url), lit("/"))
    val pairs = filter(split(coalesce(urlQuery(url), lit("")), "&"), p => {
      val name = substring_index(p, "=", 1)
      p =!= "" && !name.startsWith("utm_") && !name.isin(TrackingParams: _*)
    })
    val cleanQs = array_join(pairs, "&")
    when(scheme.isNull || host.isNull, lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, keepPort, path,
        when(cleanQs === "", lit("")).otherwise(concat(lit("?"), cleanQs))))
  }

  /** DuckDB twin of [[canonicalizeUrl]] (kept adjacent so the two cannot
    * drift silently; the url_canonicalize oracle pins them equal). */
  def canonicalizeUrlSql(u: String): String = {
    val scheme = s"lower(nullif(regexp_extract($u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1), ''))"
    val host = s"lower(nullif(regexp_extract($u, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1), ''))"
    val port = s"nullif(regexp_extract($u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/:?#]*:([0-9]+)', 1), '')"
    val path = s"coalesce(nullif(regexp_extract($u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1), ''), '/')"
    val qs = raw"nullif(regexp_extract($u, '\?([^#]*)', 1), '')"
    val inTracking = TrackingParams.map(t => s"'$t'").mkString(", ")
    val pairs = s"[p for p in string_split(coalesce($qs, ''), '&') " +
      s"if p <> '' AND NOT starts_with(split_part(p, '=', 1), 'utm_') " +
      s"AND split_part(p, '=', 1) NOT IN ($inTracking)]"
    val keepPort = s"CASE WHEN $port IS NOT NULL AND NOT (($scheme = 'http' AND $port = '80') " +
      s"OR ($scheme = 'https' AND $port = '443')) THEN concat(':', $port) ELSE '' END"
    // DuckDB's array_to_string returns NULL (not '') on an empty list, and
    // concat ignores NULLs — without the coalesce a fully-stripped
    // querystring gains a bare trailing '?' in the oracle only
    val cleanQs = s"coalesce(array_to_string($pairs, '&'), '')"
    s"CASE WHEN $scheme IS NULL OR $host IS NULL THEN NULL " +
      s"ELSE concat($scheme, '://', $host, $keepPort, $path, " +
      s"CASE WHEN $cleanQs = '' THEN '' ELSE concat('?', $cleanQs) END) END"
  }

  /** Querystring → MapType column (kernel for ad-hoc param access). */
  def qsToMap(qs: Column): Column =
    str_to_map(coalesce(qs, lit("")), lit("&"), lit("="))

  /** Querystring → map with LAST occurrence winning on repeated params —
    * `str_to_map`/`map_from_entries` throw DUPLICATE_MAP_KEY under Spark's
    * default dedup policy, and repeated params ("uid=a&uid=b") are routine
    * in real collector traffic; the reference's `.toMap` keeps the last
    * value. Empty/null input → empty map. */
  def qsMapLastWins(qs: Column): Column = {
    val kvs = filter(split(coalesce(qs, lit("")), "&"), kv => kv =!= "")
    val entries = transform(kvs, kv => struct(
      substring_index(kv, "=", 1).as("key"),
      when(kv.contains("="), regexp_replace(kv, "^[^=]*=", "")).as("value")))
    val lastWins = filter(entries, (e, i) =>
      !exists(slice(entries, i + 2, size(entries)),
        p => p.getField("key") === e.getField("key")))
    map_from_entries(lastWins)
  }
}
