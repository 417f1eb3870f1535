package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.{FieldLengthsExpression, FingerprintExpression, SpPairExpression, TrackerFieldsExpression}

/** Tracker-protocol / atomic-event kernels.
  *
  * Mirrors snowplow/enrich:
  *  - event-type codes: `common/enrichments/EventEnrichments.scala:143`
  *  - platform whitelist: `common/enrichments/MiscEnrichments.scala:52`
  *  - derived timestamp (clock-skew correction):
  *    `common/enrichments/EventEnrichments.scala:75`
  *  - view dimensions "WxH": `common/enrichments/ClientEnrichments.scala:24`
  *  - event fingerprint: `registry/EventFingerprintEnrichment.scala:85`
  *  - TSV safety: `common/utils/ConversionUtils.makeTsvSafe`
  */
object EventF {

  /** Tracker event code → atomic event type (shared with the oracle SQL). */
  val EventTypeMap: Seq[(String, String)] = Seq(
    "se" -> "struct", "ev" -> "struct", "ue" -> "unstruct",
    "ad" -> "ad_impression", "tr" -> "transaction", "ti" -> "transaction_item",
    "pv" -> "page_view", "pp" -> "page_ping"
  )

  /** Valid atomic platform codes (shared with the oracle SQL). */
  val ValidPlatforms: Seq[String] =
    Seq("web", "iot", "app", "mob", "pc", "cnsl", "tv", "srv", "headset")

  /** Tracker event code → atomic event type ("pv" → "page_view", …);
    * null for unknown codes (the reference raises a bad row). */
  def eventTypeFromCode(code: Column): Column =
    EventTypeMap
      .foldLeft(when(lit(false), lit(""))) { case (acc, (k, v)) => acc.when(code === k, lit(v)) }
      .otherwise(lit(null))

  /** Platform code passthrough when valid, null otherwise. */
  def platformValidate(p: Column): Column =
    when(p.isin(ValidPlatforms: _*), p).otherwise(lit(null))

  /** Derived timestamp in epoch micros: trueTstamp wins; else
    * collector − (sent − created) when created < sent; else collector.
    * All inputs epoch micros (BIGINT); null when the correction overflows
    * a bigint. */
  def derivedTstampMicros(
    collectorUs: Column,
    dvceCreatedUs: Column,
    dvceSentUs: Column,
    trueUs: Column
  ): Column =
    when(trueUs.isNotNull, trueUs)
      .when(
        dvceSentUs.isNotNull && dvceCreatedUs.isNotNull && dvceCreatedUs < dvceSentUs,
        try_subtract(collectorUs, try_subtract(dvceSentUs, dvceCreatedUs))
      )
      .otherwise(collectorUs)

  private def resPart(res: Column, group: Int): Column = {
    // both dimensions must parse AND fit an int, else the pair is invalid
    // (reference ClientEnrichments errors the whole field on overflow).
    // try_cast: the digit run is unbounded, so a 25-digit "width" would
    // overflow even the bigint step and abort the job under ANSI
    val w = nullif(regexp_extract(res, "^(\\d+)x(\\d+)$", 1), lit("")).try_cast("bigint")
    val h = nullif(regexp_extract(res, "^(\\d+)x(\\d+)$", 2), lit("")).try_cast("bigint")
    val valid = w.isNotNull && h.isNotNull && w <= Int.MaxValue && h <= Int.MaxValue
    when(valid, (if (group == 1) w else h).cast("int"))
  }

  /** "1920x1080" → width; null when malformed or int-overflowing. */
  def resWidth(res: Column): Column = resPart(res, 1)

  /** "1920x1080" → height; null when malformed or int-overflowing. */
  def resHeight(res: Column): Column = resPart(res, 2)

  private val UnitSep = "\u001f"

  /** Event fingerprint: hash over key‑sorted (k, v) pairs joined with the
    * 0x1F unit separator, null-valued params skipped — byte-compatible with
    * the reference's `getEventFingerprint`. Keys are sorted at plan time.
    * @param algo one of md5 | sha1 | sha256
    */
  def eventFingerprint(algo: String, params: Seq[(String, Column)]): Column = {
    val pieces = params.sortBy(_._1).map { case (k, v) =>
      when(v.isNull, lit("")).otherwise(concat(lit(k), lit(UnitSep), v.cast("string"), lit(UnitSep)))
    }
    val payload = concat(pieces: _*)
    algo match {
      case "md5"    => md5(payload.cast("binary"))
      case "sha1"   => sha1(payload.cast("binary"))
      case "sha256" => sha2(payload.cast("binary"), 256)
      case "sha384" => sha2(payload.cast("binary"), 384)
      case "sha512" => sha2(payload.cast("binary"), 512)
      case other    => throw new IllegalArgumentException(s"unsupported fingerprint algorithm: $other")
    }
  }

  /** Collapse tabs/newlines/carriage returns to spaces so the value is safe
    * in a TSV row. */
  def tsvSafe(c: Column): Column = regexp_replace(c, "[\\t\\n\\r]", " ")

  /** Reference `ConversionUtils.fixTabsNewlines:115`: tabs → 4 spaces, all
    * other control characters removed, empty result → null. */
  def fixTabsNewlines(c: Column): Column =
    nullif(regexp_replace(regexp_replace(c, "\\t", "    "), "\\p{Cntrl}", ""), lit(""))

  /** Truncate to the atomic field width, as AtomicFieldsLengthValidator
    * does when `acceptInvalid` is configured. */
  def truncateField(c: Column, maxLen: Int): Column = substring(c, 1, maxLen)

  /** SHA-256 pseudonymization with a static salt
    * (reference `registry/pii/PiiPseudonymizerEnrichment.scala`). */
  def pseudonymize(c: Column, salt: String): Column =
    pseudonymize(c, salt, "SHA-256")

  /** Pseudonymization with the reference's configurable hash strategy
    * (`strategy.pseudonymize.hashFunction`: MD5 | SHA-1 | SHA-256 |
    * SHA-384 | SHA-512). */
  def pseudonymize(c: Column, salt: String, hashFunction: String): Column = {
    // reference pii/package.scala:78 scramble: hash(clearText + salt) —
    // the salt is APPENDED, so cross-pipeline joins on pseudonyms line up
    val salted = concat(c.cast("string"), lit(salt)).cast("binary")
    val hashed = hashFunction.toUpperCase match {
      case "MD5" => md5(salted)
      case "SHA-1" | "SHA1" => sha1(salted)
      case "SHA-256" | "SHA256" => sha2(salted, 256)
      case "SHA-384" | "SHA384" => sha2(salted, 384)
      case "SHA-512" | "SHA512" => sha2(salted, 512)
      case other => throw new IllegalArgumentException(
        s"pii: unknown hashFunction '$other' (MD5, SHA-1, SHA-256, SHA-384, SHA-512)")
    }
    when(c.isNull, lit(null)).otherwise(hashed)
  }

  /** Pseudonymize a STRING field INSIDE a JSON document column, splicing the
    * hash back in place — the reference's JSON-path PII mode
    * (`registry/pii/PiiPseudonymizerEnrichment.scala` traverses JSONPaths in
    * contexts/unstruct_event rather than whole columns). `path` is a
    * JsonPath like `$.data.email`; the named field's occurrence is
    * rewritten, documents without it pass unchanged. */
  def pseudonymizeJsonField(json: Column, path: String, salt: String): Column =
    pseudonymizeJsonField(json, path, salt, "SHA-256")

  /** [[pseudonymizeJsonField]] with the configurable hash strategy. */
  def pseudonymizeJsonField(json: Column, path: String, salt: String, hashFunction: String): Column = {
    val field = path.substring(path.lastIndexOf('.') + 1)
    val v = get_json_object(json, path)
    val quoted = "\"" + field + "\"\\s*:\\s*\"[^\"]*\""
    // regexp_replace rewrites EVERY same-named field with THIS path's hash,
    // and [^"]* mis-parses values holding escaped quotes/backslashes — both
    // would corrupt PII handling silently. A PII kernel fails CLOSED: null
    // the whole document in those cases rather than emit a wrong pseudonym.
    val occurrences = size(split(json, quoted, -1)) - 1
    val unsafeValue = v.contains("\"") || v.contains("\\")
    // the wildcard pattern counts SAME-NAMED fields, not this path's value:
    // when the JSONPath target is a non-string (e.g. a number) the single
    // regex occurrence can be a DIFFERENT field — require the path's own
    // value to appear verbatim as "field":"value" (plain substring, so no
    // escaping pitfalls) before rewriting, else fail closed
    val valueInPlace = instr(json, concat(lit("\"" + field + "\":\""), v, lit("\""))) > 0
    when(v.isNull, json)
      .when(occurrences === 1 && !unsafeValue && valueInPlace,
        regexp_replace(json, lit(quoted),
          concat(lit("\"" + field + "\":\""), pseudonymize(v, salt, hashFunction), lit("\""))))
      .otherwise(lit(null).cast("string"))
  }

  /** Cookie header "a=1; b=2" → value of cookie `name`
    * (reference `registry/CookieExtractorEnrichment.scala`). */
  def cookieValue(cookieHeader: Column, name: String): Column =
    nullif(regexp_extract(cookieHeader, "(?:^|; )" + name + "=([^;]*)", 1), lit(""))

  /** "Header-Name: value" → name (reference `registry/HttpHeaderExtractorEnrichment.scala`). */
  def headerName(header: Column): Column =
    nullif(regexp_extract(header, "^([^:]+):", 1), lit(""))

  /** "Header-Name: value" → trimmed value. */
  def headerValue(header: Column): Column =
    nullif(trim(regexp_extract(header, "^[^:]+:(.*)$", 1)), lit(""))

  /** `_sp` cross-navigation param "domainUserid.timestampMs" → userid part
    * (reference `registry/CrossNavigationEnrichment.scala:60`). */
  def spDomainUserId(sp: Column): Column =
    nullif(regexp_extract(sp, "^([^.]+)\\.([0-9]+)$", 1), lit(""))

  /** `_sp` param → epoch millis of the link click (try_cast: the digit run
    * is unbounded and a crafted 25-digit value must null out, not abort). */
  def spTstampMs(sp: Column): Column =
    nullif(regexp_extract(sp, "^([^.]+)\\.([0-9]+)$", 2), lit("")).try_cast("bigint")

  /** `_sp` param → epoch micros of the link click: [[spTstampMs]] × 1000,
    * null when the product overflows a bigint. */
  def spTstampUs(sp: Column): Column = try_multiply(spTstampMs(sp), lit(1000L))

  /** Field `idx` (1-based) of the EXTENDED cross-navigation `_sp` format
    * (reference `CrossNavigationEnrichment.CrossNavProps`:
    * duid.timestamp.session_id.user_id.source_id.source_platform.reason).
    * Short forms are padded with empties (→ null fields); inputs with MORE
    * than 7 fields are discarded entirely (reference `makeCrossDomainMap`
    * returns an empty map — every field null). Per-field semantics:
    * duid (1) gets `fixTabsNewlines`; session_id (3) and source_platform (6)
    * are blank-filtered on their trimmed value. */
  def spField(sp: Column, idx: Int): Column = {
    require(idx >= 1 && idx <= 7, "extended _sp has 7 fields")
    val parts = split(sp, "\\.", -1)
    val padded = concat(parts, array_repeat(lit(""), greatest(lit(0), lit(7) - size(parts))))
    val v = when(size(parts) <= 7, nullif(element_at(padded, idx), lit("")))
    idx match {
      case 1 => fixTabsNewlines(v)
      case 3 | 6 => when(trim(v) =!= "", v)
      case _ => v
    }
  }

  /** URL-safe-Base64-decoded extended `_sp` field (user_id / source_id /
    * reason use the RFC 4648 `-`/`_` alphabet — reference
    * `ConversionUtils.decodeBase64Url:137`), blank-filtered like the
    * reference's `decodeWithFailure`. */
  def spFieldDecoded(sp: Column, idx: Int): Column = {
    val decoded = unbase64(translate(spField(sp, idx), "-_", "+/")).cast("string")
    when(trim(decoded) =!= "", decoded)
  }

  // ---- per-row kernels of the default chain (graft.plans.ChainExpressions) ----

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  private val EventTypeByCode: java.util.HashMap[UTF8String, UTF8String] = {
    val m = new java.util.HashMap[UTF8String, UTF8String]
    EventTypeMap.foreach { case (k, v) => m.putIfAbsent(utf8(k), utf8(v)) }
    m
  }

  private val ValidPlatformSet: java.util.HashSet[UTF8String] =
    new java.util.HashSet[UTF8String](java.util.Arrays.asList(ValidPlatforms.map(utf8): _*))

  /** TrackerTransform's five derived columns from one call: struct(event,
    * platform, dvce_screenwidth, dvce_screenheight, user_ipaddress), each
    * field equal to [[eventTypeFromCode]], [[platformValidate]],
    * [[resWidth]], [[resHeight]] and [[IpF.firstForwardedIp]]. */
  def trackerFields(code: Column, platform: Column, res: Column, xff: Column): Column =
    ColumnBridge.column(TrackerFieldsExpression(
      Seq(code, platform, res, xff).map(c => ColumnBridge.expression(c.cast("string")))))

  /** Per-row entry for [[graft.plans.TrackerFieldsExpression]]. */
  def trackerFieldsRow(code: UTF8String, platform: UTF8String, res: UTF8String, xff: UTF8String): InternalRow = {
    val out = new Array[Any](5)
    if (code != null) out(0) = EventTypeByCode.get(code)
    if (platform != null && ValidPlatformSet.contains(platform)) out(1) = platform
    if (res != null) {
      val wh = resPair(res)
      if (wh >= 0) { out(2) = (wh >>> 32).toInt; out(3) = wh.toInt }
    }
    if (xff != null) out(4) = firstHop(xff)
    new GenericInternalRow(out)
  }

  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  /** Where a digit run ends, Java's non-MULTILINE `$` matches at byte `i`
    * of `s`: at the end, or before one final line terminator (\n, \r,
    * \r\n, U+0085, U+2028, U+2029). The byte before `i` is a digit, so
    * the "no match between \r and \n" case cannot arise. */
  private def dollarAt(s: UTF8String, i: Int): Boolean = {
    def b(k: Int) = s.getByte(i + k) & 0xff
    s.numBytes - i match {
      case 0 => true
      case 1 => b(0) == '\n' || b(0) == '\r'
      case 2 => (b(0) == '\r' && b(1) == '\n') || (b(0) == 0xc2 && b(1) == 0x85)
      case 3 => b(0) == 0xe2 && b(1) == 0x80 && (b(2) == 0xa8 || b(2) == 0xa9)
      case _ => false
    }
  }

  /** `^(\d+)x(\d+)$` with both sides ≤ Int.MaxValue → width << 32 | height;
    * -1 otherwise. Java's `\d` is ASCII-only, so the scan is over bytes. */
  private def resPair(s: UTF8String): Long = {
    val n = s.numBytes
    val cap = Int.MaxValue.toLong + 1
    var i = 0
    var w = 0L
    while (i < n && isDigit(s.getByte(i))) { w = math.min(w * 10 + (s.getByte(i) - '0'), cap); i += 1 }
    if (i == 0 || i >= n || s.getByte(i) != 'x') return -1L
    i += 1
    val hStart = i
    var h = 0L
    while (i < n && isDigit(s.getByte(i))) { h = math.min(h * 10 + (s.getByte(i) - '0'), cap); i += 1 }
    if (i == hStart || !dollarAt(s, i) || w > Int.MaxValue || h > Int.MaxValue) -1L
    else (w << 32) | h
  }

  /** `s` up to (excluding) byte `end`, an ASCII delimiter position: the
    * bytes themselves when they are ASCII, else the Java-string prefix,
    * as `regexp_extract` returns it (malformed UTF-8 becomes U+FFFD). */
  private def prefixAt(s: UTF8String, end: Int, delims: String): UTF8String = {
    var i = 0
    while (i < end && s.getByte(i) >= 0) i += 1
    if (i == end) s.substring(0, end)
    else {
      val str = s.toString
      var j = 0
      while (j < str.length && delims.indexOf(str.charAt(j)) < 0) j += 1
      utf8(str.substring(0, j))
    }
  }

  /** `^([^,| ]*)` then empty → null: the first forwarded hop. */
  private def firstHop(xff: UTF8String): UTF8String = {
    val n = xff.numBytes
    var i = 0
    while (i < n && { val b = xff.getByte(i); b != ',' && b != '|' && b != ' ' }) i += 1
    if (i == 0) null else prefixAt(xff, i, ",| ")
  }

  /** The cross-navigation pair from one match of `^([^.]+)\.([0-9]+)$`:
    * struct(duid, tstamp_us), equal to [[spDomainUserId]] and
    * [[spTstampUs]]. */
  def spParsed(sp: Column): Column =
    ColumnBridge.column(SpPairExpression(ColumnBridge.expression(sp.cast("string"))))

  /** Per-row entry for [[graft.plans.SpPairExpression]]. */
  def spPairRow(sp: UTF8String): InternalRow = {
    if (sp == null) return new GenericInternalRow(2)
    val n = sp.numBytes
    var dot = 0
    while (dot < n && sp.getByte(dot) != '.') dot += 1
    if (dot == 0 || dot >= n) return new GenericInternalRow(2)
    var i = dot + 1
    var ms = 0L
    var overflow = false
    while (i < n && isDigit(sp.getByte(i))) {
      val d = sp.getByte(i) - '0'
      if (overflow || ms > (Long.MaxValue - d) / 10) overflow = true else ms = ms * 10 + d
      i += 1
    }
    if (i == dot + 1 || !dollarAt(sp, i)) return new GenericInternalRow(2)
    val us = if (overflow || ms > Long.MaxValue / 1000) null else ms * 1000
    new GenericInternalRow(Array[Any](prefixAt(sp, dot, "."), us))
  }

  /** Fingerprint algorithm → kernel code (sha2 family ≥ 2). */
  def fingerprintAlgo(algo: String): Int = algo match {
    case "md5" => 0
    case "sha1" => 1
    case "sha256" => 2
    case "sha384" => 3
    case "sha512" => 4
    case other => throw new IllegalArgumentException(s"unsupported fingerprint algorithm: $other")
  }

  /** [[eventFingerprint]] as one digest call per row: non-string params
    * are cast to strings, as the twin's `concat` does. */
  def fingerprintDigest(algo: String, params: Seq[(String, Column)]): Column = {
    val sorted = params.sortBy(_._1)
    ColumnBridge.column(FingerprintExpression(
      sorted.map(p => ColumnBridge.expression(p._2.cast("string"))), sorted.map(_._1), algo))
  }

  /** Per-row entry for [[graft.plans.FingerprintExpression]]: the hex
    * digest of key 0x1F value 0x1F per non-null value, in key order. */
  def fingerprintRow(values: Array[UTF8String], keys: Array[Array[Byte]], algo: Int): UTF8String = {
    var len = 0
    var i = 0
    while (i < values.length) {
      if (values(i) != null) len += keys(i).length + values(i).numBytes + 2
      i += 1
    }
    val buf = new Array[Byte](len)
    var pos = 0
    i = 0
    while (i < values.length) {
      val v = values(i)
      if (v != null) {
        System.arraycopy(keys(i), 0, buf, pos, keys(i).length)
        pos += keys(i).length
        buf(pos) = 0x1f
        v.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos + 1)
        pos += v.numBytes + 1
        buf(pos) = 0x1f
        pos += 1
      }
      i += 1
    }
    import org.apache.commons.codec.digest.DigestUtils
    utf8(algo match {
      case 0 => DigestUtils.md5Hex(buf)
      case 1 => DigestUtils.sha1Hex(buf)
      case 2 => DigestUtils.sha256Hex(buf)
      case 3 => DigestUtils.sha384Hex(buf)
      case _ => DigestUtils.sha512Hex(buf)
    })
  }

  /** The limits [[graft.plans.FieldLengthsExpression]] carries, with each
    * field's ready-made `length_violation` entity. */
  final case class FieldLengthsSpec(names: Seq[String], limits: Seq[Int], truncate: Boolean, enrichment: String) {
    @transient lazy val maxes: Array[Int] = limits.toArray
    @transient lazy val entities: Array[InternalRow] = names.zip(limits).map { case (c, max) =>
      new GenericInternalRow(Array[Any](utf8(enrichment), utf8("length_violation"), null,
        utf8(s"$c exceeds $max chars"))): InternalRow
    }.toArray
  }

  /** FieldLengthValidator's projection as one call: struct(truncated
    * fields when `truncate`, bad_row_errors). `fields` are (name, value,
    * max chars) in error order; non-string values are cast to strings, as
    * the twin's `length`/`substring` coerce them. */
  def fieldLengths(fields: Seq[(String, Column, Int)], prev: Column, truncate: Boolean, enrichment: String): Column =
    ColumnBridge.column(FieldLengthsExpression(
      fields.map(f => ColumnBridge.expression(f._2.cast("string"))) :+
        ColumnBridge.expression(prev.cast(graft.enrich.Enrichment.FailureEntityType)),
      fields.map(_._1), fields.map(_._3), truncate, enrichment))

  /** Per-row entry for [[graft.plans.FieldLengthsExpression]]. A value of
    * at most `max` bytes has at most `max` chars, so most values need no
    * char count and no copy; the errors array is rebuilt only when a field
    * is over its limit (a null prior array stays null, as `concat` does). */
  def fieldLengthsRow(values: Array[UTF8String], prev: ArrayData, spec: FieldLengthsSpec): InternalRow = {
    val n = values.length
    val out = new Array[Any](if (spec.truncate) n + 1 else 1)
    var bad: java.util.ArrayList[InternalRow] = null
    var i = 0
    while (i < n) {
      val v = values(i)
      val max = spec.maxes(i)
      if (v != null && v.numBytes > max && v.numChars > max) {
        if (bad == null) bad = new java.util.ArrayList[InternalRow]
        bad.add(spec.entities(i))
        if (spec.truncate) out(i) = v.substringSQL(1, max)
      } else if (spec.truncate) out(i) = v
      i += 1
    }
    out(out.length - 1) =
      if (bad == null || prev == null) prev
      else {
        val old = prev.numElements
        val all = new Array[Any](old + bad.size)
        var j = 0
        while (j < old) {
          if (!prev.isNullAt(j)) all(j) = prev.getStruct(j, 4).copy()
          j += 1
        }
        while (j < all.length) { all(j) = bad.get(j - old); j += 1 }
        new GenericArrayData(all)
      }
    new GenericInternalRow(out)
  }
}
