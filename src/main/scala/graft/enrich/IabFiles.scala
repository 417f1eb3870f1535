package graft.enrich

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.unsafe.types.UTF8String

/** Parser for the public IAB/ABC "spiders & robots" file layout the
  * reference consumes via its `registry/IabEnrichment.scala` (the three
  * files an IAB membership delivers: `ip_exclude_current_cidr.txt`,
  * `exclude_current.txt`, `include_current.txt`).
  *
  * Formats (observed from the reference's test fixtures and the public IAB
  * client conventions):
  *  - IP file: one IPv4 CIDR (or bare address = /32) per line.
  *  - include file: `pattern|active|startOfUaOnly[|inactiveDate]` — the
  *    allowlist of valid browser UAs.
  *  - exclude file: `pattern|active|exceptions|startOfUaOnly|primaryImpact|
  *    secondaryImpact[|inactiveDate]` — known robots; `exceptions` is a
  *    comma-separated list of substrings that veto the rule.
  *  - patterns are URL-encoded (`+` and `%20` = space), matching is
  *    case-insensitive, `#` starts a comment line.
  *
  * Parsing happens ONCE at plan build on the driver; the parsed config is
  * an executor-side reference object inside a codegen'd expression
  * ([[graft.plans.IabCheckExpression]]) — no per-record file access,
  * exactly the rule-table-not-RPC shape every graft enrichment uses.
  */
object IabFiles {

  /** One UA rule after decoding: lowercase pattern, start-anchored flag,
    * lowercase veto substrings, primary-impact code (exclude rules only). */
  final case class UaRule(
    pattern: String,
    startOnly: Boolean,
    exceptions: Array[String],
    impact: Int) extends Serializable

  /** Parsed IAB config. `ipIntervals` is a flattened, sorted, DISJOINT
    * sequence of [start, end] pairs (unsigned-IPv4 as Long), so the per-row
    * check is one binary search even against the full ~40k-line membership
    * file — never a linear scan. */
  final case class Config(
    ipIntervals: Array[Long],
    include: Array[UaRule],
    exclude: Array[UaRule]) extends Serializable {
    /** Per-executor UA-verdict memo: real traffic repeats a few thousand
      * distinct UAs across millions of rows, so the include/exclude rule
      * scans run once per distinct UA, not once per row (the reference
      * fronts its IAB client with the same kind of cache). Bounded by
      * wholesale clear — a UA universe past the bound implies adversarial
      * input, where recomputing is the safe behavior. */
    @transient lazy val uaMemo =
      new java.util.concurrent.ConcurrentHashMap[String, String]()
  }

  private val UaMemoBound = 65536

  private def decode(p: String): String =
    try java.net.URLDecoder.decode(p, StandardCharsets.UTF_8)
    catch { case _: IllegalArgumentException => p }

  private def dataLines(lines: Iterator[String]): Iterator[Array[String]] =
    lines.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\|", -1))

  /** IPv4 dotted quad → unsigned long; -1 when not a valid address. */
  def ipv4ToLong(ip: String): Long = {
    if (ip == null) return -1L
    var acc = 0L
    var octet = 0L
    var digits = 0
    var dots = 0
    var i = 0
    while (i < ip.length) {
      val c = ip.charAt(i)
      if (c >= '0' && c <= '9') {
        octet = octet * 10 + (c - '0')
        digits += 1
        if (digits > 3 || octet > 255) return -1L
      } else if (c == '.') {
        if (digits == 0) return -1L
        acc = (acc << 8) | octet
        octet = 0; digits = 0; dots += 1
        if (dots > 3) return -1L
      } else return -1L
      i += 1
    }
    if (dots != 3 || digits == 0) return -1L
    (acc << 8) | octet
  }

  /** CIDR / bare-IP lines → merged disjoint [start, end] interval pairs. */
  def parseIpFile(lines: Iterator[String]): Array[Long] = {
    val ranges = lines.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap { l =>
        val (addr, bits) = l.indexOf('/') match {
          case -1 => (l, 32)
          // malformed masks skip the line like malformed addresses do — one
          // bad row in a 40k-line membership file must not kill the load
          case i => (l.substring(0, i), l.substring(i + 1).trim.toIntOption.getOrElse(-1))
        }
        val base = ipv4ToLong(addr)
        if (base < 0 || bits < 0 || bits > 32) None
        else {
          val span = if (bits == 0) 0xFFFFFFFFL else (1L << (32 - bits)) - 1
          val start = base & ~span
          Some((start, start + span))
        }
      }.toArray.sortBy(_._1)
    // merge overlaps so the per-row check can binary-search
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    ranges.foreach { case (s, e) =>
      if (merged.nonEmpty && s <= merged.last._2 + 1)
        merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, e))
      else merged += ((s, e))
    }
    merged.toArray.flatMap { case (s, e) => Array(s, e) }
  }

  /** include file: pattern|active|startOnly[|date]. Inactive rules drop. */
  def parseIncludeFile(lines: Iterator[String]): Array[UaRule] =
    dataLines(lines).flatMap { f =>
      if (f.length < 3 || f(1).trim != "1") None
      else Some(UaRule(decode(f(0)).toLowerCase, f(2).trim == "1", Array.empty, 0))
    }.toArray

  /** exclude file: pattern|active|exceptions|startOnly|impact|flag[|date]. */
  def parseExcludeFile(lines: Iterator[String]): Array[UaRule] =
    dataLines(lines).flatMap { f =>
      if (f.length < 5 || f(1).trim != "1") None
      else {
        val exceptions = f(2).split(",").map(e => decode(e.trim).toLowerCase).filter(_.nonEmpty)
        Some(UaRule(decode(f(0)).toLowerCase, f(3).trim == "1", exceptions,
          try f(4).trim.toInt catch { case _: NumberFormatException => -1 }))
      }
    }.toArray

  def load(
    ipLines: Iterator[String],
    excludeLines: Iterator[String],
    includeLines: Iterator[String]
  ): Config =
    Config(parseIpFile(ipLines), parseIncludeFile(includeLines), parseExcludeFile(excludeLines))

  /** UTF-8 line reader shared by every IAB-file consumer (also
    * [[IabBotDetection.fromIabFiles]] — one definition of how these files
    * are read). */
  def readLines(p: String): Iterator[String] =
    Files.readAllLines(Paths.get(p), StandardCharsets.UTF_8).asScala.iterator

  def fromPaths(ipFile: String, excludeFile: String, includeFile: String): Config =
    load(readLines(ipFile), readLines(excludeFile), readLines(includeFile))

  // ---- per-row kernel (called from the codegen'd IabCheckExpression) -----

  /** Row function of [[graft.plans.IabCheckExpression]]: [[check]]. */
  def checkRow(ua: UTF8String, ip: UTF8String, cfg: Config): UTF8String =
    UTF8String.fromString(check(ua.toString, ip.toString, cfg))

  private val Impacts =
    Array("NONE", "PAGE_IMPRESSIONS", "AD_IMPRESSIONS", "PAGE_AND_AD_IMPRESSIONS")

  private def impactName(code: Int): String =
    if (code >= 0 && code < Impacts.length) Impacts(code) else "UNKNOWN"

  private def uaMatches(lua: String, r: UaRule): Boolean = {
    val hit = if (r.startOnly) lua.startsWith(r.pattern) else lua.contains(r.pattern)
    if (!hit) return false
    var i = 0
    while (i < r.exceptions.length) {
      if (lua.contains(r.exceptions(i))) return false
      i += 1
    }
    true
  }

  /** The IAB check: `reason|primaryImpact` packed in one string (split into
    * typed columns by the enrichment). Check order is the reference
    * client's: IP exclude → UA include allowlist → UA exclude. */
  def check(ua: String, ip: String, cfg: Config): String = {
    val ipL = ipv4ToLong(ip)
    if (ipL >= 0 && cfg.ipIntervals.length > 0) {
      // binary search over flattened disjoint [start,end] pairs
      var lo = 0
      var hi = cfg.ipIntervals.length / 2 - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (ipL < cfg.ipIntervals(2 * mid)) hi = mid - 1
        else if (ipL > cfg.ipIntervals(2 * mid + 1)) lo = mid + 1
        else return "FAILED_IP_EXCLUDE|UNKNOWN"
      }
    }
    val lua = if (ua == null) "" else ua.toLowerCase
    val memo = cfg.uaMemo
    val hit = memo.get(lua)
    if (hit != null) return hit
    val verdict = uaVerdict(lua, cfg)
    if (memo.size >= UaMemoBound) memo.clear()
    memo.put(lua, verdict)
    verdict
  }

  /** The rule-list scan behind [[check]] — runs once per DISTINCT ua per
    * executor (memoized above), so the per-row cost is one map probe. */
  private def uaVerdict(lua: String, cfg: Config): String = {
    var included = false
    var i = 0
    while (!included && i < cfg.include.length) {
      included = uaMatches(lua, cfg.include(i))
      i += 1
    }
    if (!included) return "FAILED_UA_INCLUDE|UNKNOWN"
    i = 0
    while (i < cfg.exclude.length) {
      if (uaMatches(lua, cfg.exclude(i)))
        return "FAILED_UA_EXCLUDE|" + impactName(cfg.exclude(i).impact)
      i += 1
    }
    "PASSED_ALL|NONE"
  }
}
