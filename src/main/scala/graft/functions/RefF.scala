package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.{RefererLookupExpression, RefererParseExpression}

/** Referer classification — capability twin of snowplow/enrich
  * `registry/RefererParserEnrichment.scala:91` (which wraps the
  * referer-parser database): medium ∈ {internal, search, social, email,
  * chatbot, unknown}, source name, and the search term extracted from the
  * referer querystring (URL-decoded, tabs → four spaces, control chars
  * stripped — `utils/ConversionUtils.scala:115`).
  *
  * The database ([[RefererDbData]], 1000+ domain keys / 60+ sources) is
  * probed by one codegen'd hash-map expression per row; since r16 the
  * WHOLE classification — referer host/path/query parse, internal-domain
  * check, db probe, medium/source pick, term extraction+decode+fixup —
  * is ONE fused kernel per row ([[graft.plans.RefererParseExpression]] →
  * [[refererRow]]) instead of three regex-heavy Column cascades that each
  * re-parsed the URL. The `*Spec` Column twins below keep the original
  * declarative spelling and a differential property spec pins
  * kernel == twin. Internal-domain handling matches the reference: the
  * page host itself plus a configured domain list count as internal.
  */
object RefF {

  private def mediumsLit: Column = typedLit(RefererDb.Mediums)
  private def namesLit: Column = typedLit(RefererDb.Names)
  private def paramsLit: Column = typedLit(RefererDb.Params)

  /** Fused classification: struct(host, medium, source, term) in one
    * per-row kernel call; multiple getFields collapse to one evaluation
    * under whole-stage-codegen subexpression elimination. `pageHost` is a
    * separate child so chains that already parse the page URL share that
    * parse via CSE. */
  def refererParsed(refrUrl: Column, pageHost: Column, internalDomains: Seq[String]): Column =
    ColumnBridge.column(RefererParseExpression(
      ColumnBridge.expression(refrUrl),
      ColumnBridge.expression(pageHost),
      internalDomains))

  /** Source id from the referer URL (−1 = unknown, null = no/invalid host). */
  def refererIdx(refrUrl: Column): Column =
    ColumnBridge.column(RefererLookupExpression(
      ColumnBridge.expression(UrlF.urlHost(refrUrl)),
      ColumnBridge.expression(coalesce(UrlF.urlPath(refrUrl), lit("")))))

  private def isInternal(refrHost: Column, pageHost: Column, internalDomains: Seq[String]): Column =
    refrHost === pageHost ||
      (if (internalDomains.isEmpty) lit(false) else refrHost.isin(internalDomains: _*))

  /** Referer medium; null when the referer has no host (direct visit). */
  def refererMedium(refrUrl: Column, pageUrl: Column, internalDomains: Seq[String]): Column =
    refererParsed(refrUrl, UrlF.urlHost(pageUrl), internalDomains).getField("medium")

  /** Referer source name (engine / network); null for internal, direct and
    * unknown referers. */
  def refererSource(refrUrl: Column, pageUrl: Column, internalDomains: Seq[String]): Column =
    refererParsed(refrUrl, UrlF.urlHost(pageUrl), internalDomains).getField("source")

  /** Search term: first querystring pair (in URI order) whose name is one of
    * the matched source's term parameters; value URL-decoded, then the
    * reference's fixTabsNewlines (tab → 4 spaces, control chars stripped,
    * '' → null). Null for non-search/internal/direct/unknown referers. */
  def refererTerm(refrUrl: Column, pageUrl: Column, internalDomains: Seq[String]): Column =
    refererParsed(refrUrl, UrlF.urlHost(pageUrl), internalDomains).getField("term")

  // ---- Column specification twins (pinned == kernel by PropertySpec) ----

  /** The Column cascade [[refererMedium]] fuses — specification twin. */
  def refererMediumSpec(refrUrl: Column, pageUrl: Column, internalDomains: Seq[String]): Column = {
    val rh = UrlF.urlHostSpec(refrUrl)
    val idx = refererIdxSpec(refrUrl)
    when(rh.isNull, lit(null).cast("string"))
      .when(isInternal(rh, UrlF.urlHostSpec(pageUrl), internalDomains), lit("internal"))
      .when(idx =!= -1, get(mediumsLit, idx))
      .otherwise(lit("unknown"))
  }

  /** The Column cascade [[refererSource]] fuses — specification twin. */
  def refererSourceSpec(refrUrl: Column, pageUrl: Column, internalDomains: Seq[String]): Column = {
    val rh = UrlF.urlHostSpec(refrUrl)
    val idx = refererIdxSpec(refrUrl)
    when(rh.isNull || isInternal(rh, UrlF.urlHostSpec(pageUrl), internalDomains),
      lit(null).cast("string"))
      .when(idx =!= -1, get(namesLit, idx))
      .otherwise(lit(null).cast("string"))
  }

  /** The Column cascade [[refererTerm]] fuses — specification twin. */
  def refererTermSpec(refrUrl: Column, pageUrl: Column, internalDomains: Seq[String]): Column = {
    val rh = UrlF.urlHostSpec(refrUrl)
    val rq = UrlF.urlQuerySpec(refrUrl)
    val idx = refererIdxSpec(refrUrl)
    val params = get(paramsLit, idx)
    val pairs = split(coalesce(rq, lit("")), "&")
    val hit = get(
      filter(pairs, p => array_contains(params, substring_index(p, "=", 1))), lit(0))
    val rawv = regexp_replace(hit, "^[^=]*=?", "")
    // try_url_decode: a truncated %-escape in a real-world referer query
    // must null the term (ANSI url_decode would abort the job); the oracle
    // twin only sees well-formed escapes so parity is unaffected
    val decoded = try_url_decode(regexp_replace(rawv, "\\+", "%20"))
    val fixed = nullif(
      regexp_replace(regexp_replace(decoded, "\t", "    "), "[\\x00-\\x1f\\x7f]", ""),
      lit(""))
    when(rh.isNull || isInternal(rh, UrlF.urlHostSpec(pageUrl), internalDomains),
      lit(null).cast("string"))
      .when(idx =!= -1 && size(params) > 0, fixed)
      .otherwise(lit(null).cast("string"))
  }

  /** [[refererIdx]] over the regex spec twins (for the spec cascades). */
  private def refererIdxSpec(refrUrl: Column): Column =
    ColumnBridge.column(RefererLookupExpression(
      ColumnBridge.expression(UrlF.urlHostSpec(refrUrl)),
      ColumnBridge.expression(coalesce(UrlF.urlPathSpec(refrUrl), lit("")))))

  // ---- imperative core (the fused kernel's twin of the cascades) ----

  private def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  /** fixTabsNewlines over a decoded term: tab → four spaces, control chars
    * stripped, '' → null — the regexp_replace chain of [[refererTermSpec]]. */
  private def fixTerm(decoded: String): UTF8String = {
    if (decoded == null) return null
    val sb = new java.lang.StringBuilder(decoded.length + 8)
    var i = 0
    while (i < decoded.length) {
      val c = decoded.charAt(i)
      if (c == '\t') sb.append("    ")
      else if (c < 0x20 || c == 0x7f) () // [\x00-\x1f\x7f] stripped
      else sb.append(c)
      i += 1
    }
    if (sb.length == 0) null else UTF8String.fromString(sb.toString)
  }

  /** Term extraction twin: first '&'-separated pair (URI order) whose name
    * (before the first '=') is one of `params`; value = after the first
    * '=', '+' → %20, form-decoded (failure → null), then [[fixTerm]]. */
  private def termOf(query: String, params: Seq[String]): UTF8String = {
    val qs = if (query == null) "" else query
    val pairs = qs.split("&", -1)
    var i = 0
    while (i < pairs.length) {
      val p = pairs(i)
      val eq = p.indexOf('=')
      val name = if (eq < 0) p else p.substring(0, eq)
      if (params.contains(name)) {
        val rawv = if (eq < 0) "" else p.substring(eq + 1)
        return fixTerm(UrlF.tryUrlDecodeString(rawv.replace("+", "%20")))
      }
      i += 1
    }
    null
  }

  /** Per-row entry for [[graft.plans.RefererParseExpression]]: the whole
    * referer classification from the raw referer URL + page host. Null
    * referer host → all-null struct (the cascades' rh-null branch); a null
    * referer → null. */
  def refererRow(refrU: UTF8String, pageHostU: UTF8String, internalDomains: Seq[String]): InternalRow = {
    if (refrU == null) return null
    val parts = UrlF.parseUrlParts(refrU.toString)
    val rh = parts.host
    if (rh == null) return new GenericInternalRow(Array[Any](null, null, null, null))
    val pageHost = if (pageHostU == null) null else pageHostU.toString
    val hostU = utf8(rh)
    if ((pageHost != null && rh == pageHost) || internalDomains.contains(rh))
      return new GenericInternalRow(Array[Any](hostU, utf8("internal"), null, null))
    val idx = RefererDb.lookupIdx(hostU, utf8(if (parts.path == null) "" else parts.path))
    if (idx == -1)
      return new GenericInternalRow(Array[Any](hostU, utf8("unknown"), null, null))
    val params = RefererDb.Params(idx)
    val term = if (params.isEmpty) null else termOf(parts.query, params)
    new GenericInternalRow(Array[Any](
      hostU, utf8(RefererDb.Mediums(idx)), utf8(RefererDb.Names(idx)), term))
  }
}
