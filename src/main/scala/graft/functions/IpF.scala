package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** IP-address kernels.
  *
  * Semantics follow snowplow/enrich
  * `common/enrichments/registry/AnonIpEnrichment.scala:131` (mask the last N
  * IPv4 octets / IPv6 segments with "x", preserving the number of groups the
  * input had) and `common/enrichments/MiscEnrichments.scala:75` (first IP of
  * an X-Forwarded-For chain).
  *
  * Everything here is built from codegen'd built-ins — no UDFs — so the whole
  * enrichment chain stays inside one WholeStageCodegen span.
  */
object IpF {

  /** Mask the last `octets` octets of an IPv4 address with "x".
    * Like the reference, keeps however many groups the input had (broken
    * addresses such as "777.2.23" still get masked group-wise).
    */
  def anonIpv4(ip: Column, octets: Int): Column = {
    require(octets >= 1 && octets <= 4, "octets must be 1..4")
    val parts = split(ip, "\\.")
    val masked = transform(parts, (e, i) => when(i < lit(4 - octets), e).otherwise(lit("x")))
    array_join(masked, ".")
  }

  /** A 0–255 decimal octet (bounded: an unbounded `\d+` would overflow the
    * ANSI bigint cast downstream and kill the job on garbage input). */
  private val Octet = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[0-9][0-9]?)"

  /** Rewrite mixed-notation IPv6 ("64:ff9b::1.2.3.4") to all-hex form
    * ("64:ff9b::102:304"), as Guava's `getHostAddress` does before the
    * reference masks segments. Pure-hex input passes through, and so does
    * an INVALID dotted tail (octets out of range) — the caller then masks
    * it as an opaque group, failing closed instead of crashing. */
  def normalizeMixedIpv6(ip: Column): Column = {
    val tail = s"$Octet\\.$Octet\\.$Octet\\.$Octet$$"
    def p(i: Int) = regexp_extract(ip, tail, i).cast("bigint")
    val hexTail = concat(
      lower(hex(p(1) * 256L + p(2))), lit(":"), lower(hex(p(3) * 256L + p(4))))
    when(ip.rlike(tail), concat(regexp_replace(ip, tail, ""), hexTail)).otherwise(ip)
  }

  /** Expand a `::`-shortened IPv6 address to its 8-group form
    * ("4b0c::1" → "4b0c:0:0:0:0:0:0:1"); non-shortened input is returned
    * unchanged. String-level twin of the Guava normalization the reference
    * relies on. */
  def expandIpv6(ip: Column): Column = {
    val leftStr = substring_index(ip, "::", 1)
    val rightStr = substring_index(ip, "::", -1)
    val leftArr = when(leftStr === "", array().cast("array<string>")).otherwise(split(leftStr, ":"))
    val rightArr = when(rightStr === "", array().cast("array<string>")).otherwise(split(rightStr, ":"))
    val zeros = array_repeat(lit("0"), greatest(lit(0), lit(8) - size(leftArr) - size(rightArr)))
    when(ip.contains("::"), array_join(concat(leftArr, zeros, rightArr), ":")).otherwise(ip)
  }

  /** Mask the last `segments` of an IPv6 address. Shortened forms are
    * expanded and mixed notation hex-normalized first (the reference's
    * `getHostAddress` path); short `::`-less inputs are padded to 8 groups
    * with "x" (reference `anonymizeIpV6`'s take+padTo — a PII kernel must
    * fail CLOSED, never pass a malformed address through unmasked). */
  def anonIpv6(ip: Column, segments: Int): Column = {
    require(segments >= 1 && segments <= 8, "segments must be 1..8")
    val parts = split(expandIpv6(normalizeMixedIpv6(ip)), ":")
    val padded = slice(
      concat(parts, array_repeat(lit("x"), greatest(lit(0), lit(8) - size(parts)))), 1, 8)
    val masked = transform(padded, (e, i) => when(i < lit(8 - segments), e).otherwise(lit("x")))
    array_join(masked, ":")
  }

  private val MappedPrefix = "::FFFF:"

  /** Route a string IP to the v4 or v6 masker, as the reference does:
    * IPv4-mapped addresses (`::FFFF:a.b.c.d`) keep the prefix and mask the
    * v4 part (reference `AnonIpEnrichment.anonymizeIpV4`'s mapped branch);
    * anything containing ":" — including mixed notation `64:ff9b::1.2.3.4`,
    * which Guava parses as Inet6Address — is IPv6; dotted (or empty) input
    * is IPv4; separator-free garbage passes through unchanged
    * (`tryAnonymizingInvalidIp`). */
  def anonIp(ip: Column, octets: Int, segments: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.AnonIpExpression(
        org.apache.spark.sql.graft.ColumnBridge.expression(ip), octets, segments))

  /** The Column-built routing the kernel replaced — kept as the readable
    * specification twin (see AnonIpExpression's scaladoc); [[anonIpString]]
    * below is the fused per-row implementation both engines' tests pin. */
  def anonIpColumns(ip: Column, octets: Int, segments: Int): Column =
    when(ip.isNull, lit(null))
      .when(ip.startsWith(MappedPrefix),
        concat(lit(MappedPrefix), anonIpv4(regexp_replace(ip, "^::FFFF:", ""), octets)))
      // lowercase mapped prefix: Guava parses ::ffff:a.b.c.d as Inet4Address,
      // but the reference's case-SENSITIVE prefix check misses it, so the
      // whole string goes through the v4 masker (split on ".")
      .when(lower(ip).startsWith("::ffff:") && ip.contains("."), anonIpv4(ip, octets))
      .when(ip.contains(":"), anonIpv6(ip, segments))
      .when(ip.contains(".") || ip === "", anonIpv4(ip, octets))
      .otherwise(ip)

  // ---- fused imperative kernel (called from AnonIpExpression codegen) ----

  private val MixedTail = java.util.regex.Pattern.compile(
    s"$Octet\\.$Octet\\.$Octet\\.$Octet$$")

  private def maskV4(s: String, octets: Int): String = {
    val parts = s.split("\\.", -1)
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < parts.length) {
      if (i > 0) sb.append('.')
      sb.append(if (i < 4 - octets) parts(i) else "x")
      i += 1
    }
    sb.toString
  }

  /** Per-row twin of [[expandIpv6]]: "::" shorthand expanded to 8 groups. */
  private def expandV6(s: String): String =
    if (!s.contains("::")) s
    else {
      def groups(x: String) = if (x.isEmpty) Array.empty[String] else x.split(":", -1)
      val leftArr = groups(s.substring(0, s.indexOf("::")))
      val rightArr = groups(s.substring(s.lastIndexOf("::") + 2))
      val zeros = math.max(0, 8 - leftArr.length - rightArr.length)
      (leftArr ++ Array.fill(zeros)("0") ++ rightArr).mkString(":")
    }

  private def maskV6(s0: String, segments: Int): String = {
    // normalize mixed notation ("64:ff9b::1.2.3.4" → "…::102:304")
    val m = MixedTail.matcher(s0)
    val s1 =
      if (m.find()) {
        val p = (1 to 4).map(i => m.group(i).toLong)
        s0.substring(0, m.start()) +
          java.lang.Long.toHexString(p(0) * 256 + p(1)) + ":" +
          java.lang.Long.toHexString(p(2) * 256 + p(3))
      } else s0
    val s2 = expandV6(s1)
    // pad short ::-less forms to 8 with "x" (fail closed), cap at 8, mask
    val parts = s2.split(":", -1)
    val sb = new java.lang.StringBuilder(s2.length + 16)
    var i = 0
    while (i < 8) {
      if (i > 0) sb.append(':')
      if (i >= 8 - segments) sb.append('x')
      else if (i < parts.length) sb.append(parts(i))
      else sb.append('x')
      i += 1
    }
    sb.toString
  }

  /** Per-row twin of [[anonIpColumns]] — identical routing and masking, one
    * fused pass instead of ~10 regex/array kernels. Pinned by the
    * AnonIpEnrichmentSpec vector table and the anon_ip DuckDB oracle. */
  def anonIpString(ip: String, octets: Int, segments: Int): String = {
    if (ip == null) return null
    if (ip.startsWith(MappedPrefix)) MappedPrefix + maskV4(ip.substring(MappedPrefix.length), octets)
    else if (ip.regionMatches(true, 0, "::ffff:", 0, 7) && ip.indexOf('.') >= 0) maskV4(ip, octets)
    else if (ip.indexOf(':') >= 0) maskV6(ip, segments)
    else if (ip.indexOf('.') >= 0 || ip.isEmpty) maskV4(ip, octets)
    else ip
  }

  /** Row function of [[graft.plans.AnonIpExpression]]. */
  def anonIpRow(ip: UTF8String, octets: Int, segments: Int): UTF8String =
    UTF8String.fromString(anonIpString(ip.toString, octets, segments))

  // ---- lookup keys (called from graft.plans.IpRangeTable) ----

  /** Per-row twin of [[ipv4ToLong]]: the dotted quad's 32-bit value, or -1
    * where the twin is null. An octet is 1 or 2 digits, or 3 digits from
    * 100 to 255, as the twin's pattern allows. After the last octet Java's
    * `$` allows one final line terminator; the twin's bigint cast trims
    * `\n`, `\r` and `\r\n`, and the other terminators (U+0085, U+2028,
    * U+2029) give -1. */
  def ipv4Value(ip: UTF8String): Long = {
    val n = ip.numBytes
    var i = 0
    var v = 0L
    var k = 0
    while (k < 4) {
      if (k > 0) {
        if (i >= n || ip.getByte(i) != '.') return -1L
        i += 1
      }
      val start = i
      var o = 0
      while (i < n && i - start < 4 && ip.getByte(i) >= '0' && ip.getByte(i) <= '9') {
        o = o * 10 + (ip.getByte(i) - '0')
        i += 1
      }
      val len = i - start
      if (len == 0 || len > 3 || (len == 3 && (o < 100 || o > 255))) return -1L
      v = (v << 8) | o
      k += 1
    }
    n - i match {
      case 0 => v
      case 1 if ip.getByte(i) == '\n' || ip.getByte(i) == '\r' => v
      case 2 if ip.getByte(i) == '\r' && ip.getByte(i + 1) == '\n' => v
      case _ => -1L
    }
  }

  /** Per-row twin of [[ipv6PrefixCanonical]] and [[ipv6Lo64Dec]] over
    * `expandIpv6(normalizeMixedIpv6(ip))`: the address's top and low 64
    * bits, or null where the twins are null. A group's value is its
    * leading hex digits, as the twins' `conv` reads the last group past a
    * final line terminator. */
  def ipv6Halves(ip: String): Array[Long] = {
    val m = MixedTail.matcher(ip)
    val norm =
      if (!m.find()) ip
      else {
        def p(i: Int) = m.group(i).toLong
        ip.substring(0, m.start()) + ip.substring(m.end()) +
          java.lang.Long.toHexString(p(1) * 256 + p(2)) + ":" +
          java.lang.Long.toHexString(p(3) * 256 + p(4))
      }
    val full = expandV6(norm)
    if (!FullV6Pattern.matcher(full).find()) return null
    val g = full.split(":", -1).map { s =>
      java.lang.Long.parseLong(s.takeWhile(c => Character.digit(c, 16) >= 0 && c < 128), 16)
    }
    Array(g.take(4).foldLeft(0L)((a, x) => a << 16 | x), g.drop(4).foldLeft(0L)((a, x) => a << 16 | x))
  }

  /** First IP of a comma/pipe/space-separated X-Forwarded-For chain
    * (the client IP — see reference `MiscEnrichments.extractIp`). */
  def firstForwardedIp(xff: Column): Column =
    nullif(regexp_extract(xff, "^([^,| ]*)", 1), lit(""))

  /** Dotted-quad IPv4 → 32-bit unsigned value as BIGINT (for range joins).
    * Null for anything else (IPv6 clients, out-of-range octets, garbage):
    * a malformed address must yield a missed lookup, not a wrong join key
    * or an ANSI cast failure that kills the 100 TB job — hence the strict
    * 0-255 per-octet pattern, not `\d+`. */
  def ipv4ToLong(ip: Column): Column = {
    val p = split(ip, "\\.")
    when(ip.rlike(s"^$Octet\\.$Octet\\.$Octet\\.$Octet$$"),
      element_at(p, 1).cast("bigint") * 16777216L +
        element_at(p, 2).cast("bigint") * 65536L +
        element_at(p, 3).cast("bigint") * 256L +
        // Java's `$` lets a final line terminator follow the last octet;
        // the cast trims `\n` and `\r`, and U+0085, U+2028 and U+2029 make
        // the address a miss instead of an ANSI cast error
        element_at(p, 4).try_cast("bigint"))
  }

  /** A full 8-group hex IPv6 address (run [[expandIpv6]] /
    * [[normalizeMixedIpv6]] first for shortened or mixed forms). */
  private val FullV6 = "^[0-9a-fA-F]{1,4}(:[0-9a-fA-F]{1,4}){7}$"
  private val FullV6Pattern = java.util.regex.Pattern.compile(FullV6)

  /** Group `i` (0-based) of a full 8-group IPv6 address as a bigint;
    * null for anything not 8 hex groups — a malformed address at row
    * 10^11 must yield a null lookup, not an ANSI cast error. */
  def ipv6Group(ip: Column, i: Int): Column = {
    require(i >= 0 && i <= 7, "IPv6 has groups 0..7")
    when(ip.rlike(FullV6), conv(element_at(split(ip, ":"), i + 1), 16, 10).cast("bigint"))
  }

  /** Canonical `/64` prefix of a full 8-group v6 address — groups 0..3
    * re-emitted as lowercase minimal hex ("2001:0DB8:0001:2" →
    * "2001:db8:1:2"), the equi-key of the split-128-bit range join. */
  def ipv6PrefixCanonical(ip: Column): Column =
    // concat, not concat_ws: concat_ws SKIPS null pieces and would emit a
    // truncated prefix for a malformed address — null must propagate
    concat(
      lower(hex(ipv6Group(ip, 0))), lit(":"), lower(hex(ipv6Group(ip, 1))), lit(":"),
      lower(hex(ipv6Group(ip, 2))), lit(":"), lower(hex(ipv6Group(ip, 3))))

  /** The TOP 48 bits of the low 64-bit half (groups 4..6) as an exact
    * long — the bucketing key for v6 range joins. Long arithmetic is exact
    * here (< 2^48); only the full low-64 value needs decimal. */
  def ipv6Lo64Hi48(ip: Column): Column =
    ipv6Group(ip, 4) * 4294967296L + ipv6Group(ip, 5) * 65536L + ipv6Group(ip, 6)

  /** The low 64-bit half (groups 4..7) as DECIMAL(20,0) — an unsigned
    * 64-bit value overflows a signed bigint, and 2^128 overflows
    * DECIMAL(38,0), so the 128-bit key is handled as (prefix equi-key,
    * low-64 decimal range key). */
  def ipv6Lo64Dec(ip: Column): Column =
    (ipv6Lo64Hi48(ip).cast("decimal(20,0)") * 65536L + ipv6Group(ip, 7))
      .cast("decimal(20,0)")
}
