package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** User-agent classification kernels.
  *
  * Capability twin of snowplow/enrich `registry/UserAgentUtilsEnrichment.scala`
  * (browser family/version, OS, device type → the `EnrichedEvent` br_, os_
  * and dvce_ fields), `registry/UaParserEnrichment.scala` (uap-core) and
  * `registry/YauaaEnrichment.scala` (device class). The reference wraps
  * third-party UA databases; graft ships a declarative RULE TABLE at
  * uap-core breadth — ~85 browser families (engine browsers, chromium
  * shells, gecko forks, in-app webviews, CJK-market browsers, text-mode and
  * legacy phone browsers, consoles, TVs) and ~40 OS families — compiled to
  * BOTH a codegen'd Column cascade and a byte-identical DuckDB CASE cascade:
  * one source of truth, zero lookups, scans at 100 TB. The family names and
  * token precedence follow the public uap-core / YAUAA conventions
  * (hand-curated from public knowledge; no upstream fixture files ship in
  * this environment). Rule order is first-match-wins and mirrors real UA
  * token precedence: in-app webviews before chromium shells, gecko forks
  * before Firefox, chromium shells before Chrome, everything before Safari.
  */
object UaF {

  /** Browser rule: matches when ANY token is contained in the UA; version is
    * regexp group 1 of `verRegex` (RE2-safe, shared verbatim by both
    * engines); empty `verRegex` or no match → null version. */
  final case class BrowserRule(tokens: Seq[String], family: String, verRegex: String)

  private def br(family: String, verRegex: String, tokens: String*) =
    BrowserRule(tokens, family, verRegex)

  val BrowserRules: Seq[BrowserRule] = Seq(
    // ---- in-app webviews / app shells: their UAs embed Chrome/ or
    // Safari/ tokens too, so they must match first
    br("Facebook", "FBAV/([0-9][0-9.]*)", "FBAV/", "FBAN/"),
    br("Instagram", "Instagram ([0-9][0-9.]*)", "Instagram"),
    br("WeChat", "MicroMessenger/([0-9][0-9.]*)", "MicroMessenger/"),
    br("Line", "Line/([0-9][0-9.]*)", "Line/"),
    br("KakaoTalk", "KAKAOTALK[/ ]([0-9][0-9.]*)", "KAKAOTALK"),
    br("Naver App", "", "NAVER("),
    br("Snapchat", "Snapchat/([0-9][0-9.]*)", "Snapchat"),
    br("TikTok", "", "musical_ly", "BytedanceWebview"),
    br("Twitter", "", "TwitterAndroid", "Twitter for iPhone"),
    br("LinkedIn", "", "LinkedInApp"),
    br("DingTalk", "DingTalk/([0-9][0-9.]*)", "DingTalk"),
    br("Alipay", "AlipayClient/([0-9][0-9.]*)", "AlipayClient"),
    br("Baidu App", "baiduboxapp/([0-9][0-9.]*)", "baiduboxapp"),
    br("Weibo", "", "Weibo", "__weibo__"),
    br("Viber", "Viber/([0-9][0-9.]*)", "Viber"),
    br("Telegram", "Telegram-Android/([0-9][0-9.]*)", "Telegram-Android/"),
    br("Google Search App", "GSA/([0-9][0-9.]*)", "GSA/"),
    br("DuckDuckGo", "DuckDuckGo/([0-9][0-9.]*)", "DuckDuckGo/"),
    // ---- Edge, then the Opera family
    br("Edge", "(?:Edg|EdgA|EdgiOS|Edge)/([0-9][0-9.]*)", "Edg/", "EdgA/", "EdgiOS/", "Edge/"),
    br("Opera Mini", "Opera Mini/([0-9][0-9.]*)", "Opera Mini/"),
    br("Opera Touch", "OPT/([0-9][0-9.]*)", "OPT/"),
    br("Opera Coast", "Coast/([0-9][0-9.]*)", "Coast/"),
    br("Opera", "(?:OPR/|Opera[ /])([0-9][0-9.]*)", "OPR/", "Opera"),
    // ---- gecko forks and shells: their UAs carry Firefox/ too
    br("Pale Moon", "PaleMoon/([0-9][0-9.]*)", "PaleMoon/"),
    br("Waterfox", "Waterfox/([0-9][0-9.]*)", "Waterfox"),
    br("Basilisk", "Basilisk/([0-9][0-9.]*)", "Basilisk/"),
    br("SeaMonkey", "SeaMonkey/([0-9][0-9.]*)", "SeaMonkey/"),
    br("IceCat", "IceCat/([0-9][0-9.]*)", "IceCat/"),
    br("Iceweasel", "Iceweasel/([0-9][0-9.]*)", "Iceweasel"),
    br("K-Meleon", "K-Meleon/([0-9][0-9.]*)", "K-Meleon/"),
    br("Cyberfox", "Cyberfox/([0-9][0-9.]*)", "Cyberfox/"),
    br("TenFourFox", "", "TenFourFox/"),
    br("IceDragon", "IceDragon/([0-9][0-9.]*)", "IceDragon/"),
    br("Camino", "Camino/([0-9][0-9.]*)", "Camino/"),
    br("Flock", "Flock/([0-9][0-9.]*)", "Flock/"),
    br("Thunderbird", "Thunderbird/([0-9][0-9.]*)", "Thunderbird/"),
    br("Sailfish Browser", "SailfishBrowser/([0-9][0-9.]*)", "SailfishBrowser/"),
    br("Firefox Focus", "Focus/([0-9][0-9.]*)", "Focus/"),
    br("Firefox Klar", "Klar/([0-9][0-9.]*)", "Klar/"),
    br("Firefox Mobile", "Fennec/([0-9][0-9.]*)", "Fennec/"),
    br("Firefox", "(?:FxiOS|Firefox)/([0-9][0-9.]*)", "FxiOS/", "Firefox/"),
    // ---- chromium shells: before the Chrome token their UAs all carry.
    // OculusBrowser first: its UA also embeds SamsungBrowser/.
    br("Oculus Browser", "OculusBrowser/([0-9][0-9.]*)", "OculusBrowser/"),
    br("Samsung Internet", "SamsungBrowser/([0-9][0-9.]*)", "SamsungBrowser/"),
    br("UC Browser", "UCBrowser/([0-9][0-9.]*)", "UCBrowser/"),
    br("Yandex Browser", "YaBrowser/([0-9][0-9.]*)", "YaBrowser/"),
    br("Vivaldi", "Vivaldi/([0-9][0-9.]*)", "Vivaldi/"),
    br("Whale", "Whale/([0-9][0-9.]*)", "Whale/"),
    br("QQ Browser", "QQBrowser/([0-9][0-9.]*)", "QQBrowser/"),
    br("Huawei Browser", "HuaweiBrowser/([0-9][0-9.]*)", "HuaweiBrowser/"),
    br("Miui Browser", "MiuiBrowser/([0-9][0-9.]*)", "MiuiBrowser/"),
    br("Brave", "Brave/([0-9][0-9.]*)", "Brave/"),
    br("Maxthon", "(?:MxBrowser|Maxthon)[/ ]([0-9][0-9.]*)", "Maxthon", "MxBrowser/"),
    br("Sleipnir", "Sleipnir/([0-9][0-9.]*)", "Sleipnir/"),
    br("Iron", "Iron/([0-9][0-9.]*)", "Iron/"),
    br("Epic", "Epic/([0-9][0-9.]*)", "Epic/"),
    br("Comodo Dragon", "Dragon/([0-9][0-9.]*)", "Dragon/"),
    br("Avast Secure Browser", "(?:ASW|Avast)/([0-9][0-9.]*)", "ASW/", "Avast/"),
    br("AVG Secure Browser", "AVG/([0-9][0-9.]*)", "AVG/"),
    br("CCleaner Browser", "CCleaner/([0-9][0-9.]*)", "CCleaner/"),
    br("Slimjet", "Slimjet/([0-9][0-9.]*)", "Slimjet/"),
    br("Falkon", "Falkon/([0-9][0-9.]*)", "Falkon/"),
    br("QupZilla", "QupZilla/([0-9][0-9.]*)", "QupZilla/"),
    br("Otter", "Otter/([0-9][0-9.]*)", "Otter/"),
    br("Coc Coc", "coc_coc_browser/([0-9][0-9.]*)", "coc_coc_browser/"),
    br("Sogou Explorer", "MetaSr ([0-9][0-9.]*)", "MetaSr"),
    br("360 Browser", "", "360SE", "360EE"),
    br("2345 Explorer", "2345Explorer/([0-9][0-9.]*)", "2345Explorer"),
    br("LieBao", "", "LBBROWSER"),
    br("Quark", "Quark/([0-9][0-9.]*)", "Quark/"),
    br("Vivo Browser", "VivoBrowser/([0-9][0-9.]*)", "VivoBrowser/"),
    br("Oppo Browser", "(?:HeyTapBrowser|OppoBrowser)/([0-9][0-9.]*)", "HeyTapBrowser/", "OppoBrowser/"),
    br("Amazon Silk", "Silk/([0-9][0-9.]*)", "Silk/"),
    br("Puffin", "Puffin/([0-9][0-9.]*)", "Puffin/"),
    br("Mercury", "Mercury/([0-9][0-9.]*)", "Mercury/"),
    br("Aloha Browser", "AlohaBrowser/([0-9][0-9.]*)", "AlohaBrowser/"),
    br("Ecosia", "Ecosia [a-z]+@([0-9][0-9.]*)", "Ecosia"),
    br("Nintendo Browser", "NintendoBrowser/([0-9][0-9.]*)", "NintendoBrowser/"),
    br("Lunascape", "i?Lunascape[/ ]([0-9][0-9.]*)", "Lunascape"),
    br("Amigo", "Amigo/([0-9][0-9.]*)", "Amigo/"),
    br("Atom", "Atom/([0-9][0-9.]*)", "Atom/"),
    br("Torch", "Torch/([0-9][0-9.]*)", "Torch/"),
    br("RockMelt", "RockMelt/([0-9][0-9.]*)", "RockMelt/"),
    br("Arora", "Arora/([0-9][0-9.]*)", "Arora/"),
    br("Chromium", "Chromium/([0-9][0-9.]*)", "Chromium/"),
    br("Chrome", "(?:CriOS|Chrome)/([0-9][0-9.]*)", "CriOS/", "Chrome/"),
    // ---- KHTML / small engines / legacy phones / text mode: before Safari
    br("Konqueror", "[Kk]onqueror/([0-9][0-9.]*)", "Konqueror/", "konqueror/"),
    br("Epiphany", "Epiphany/([0-9][0-9.]*)", "Epiphany/"),
    br("Midori", "Midori/([0-9][0-9.]*)", "Midori/"),
    br("NetSurf", "NetSurf/([0-9][0-9.]*)", "NetSurf/"),
    br("OmniWeb", "OmniWeb/v?([0-9][0-9.]*)", "OmniWeb"),
    br("iCab", "iCab[/ ]([0-9][0-9.]*)", "iCab"),
    br("Dolfin", "Dolfin/([0-9][0-9.]*)", "Dolfin/"),
    br("NetFront", "NetFront/([0-9][0-9.]*)", "NetFront/"),
    br("Obigo", "", "Obigo"),
    br("UP.Browser", "UP\\.Browser/([0-9][0-9.]*)", "UP.Browser/"),
    br("Nokia Browser", "(?:NokiaBrowser|OviBrowser|S40OviBrowser)/([0-9][0-9.]*)",
      "NokiaBrowser/", "OviBrowser/", "S40OviBrowser/"),
    br("BlackBerry", "(?:Version|BlackBerry[0-9]+)/([0-9][0-9.]*)", "BlackBerry", "BB10"),
    br("Netscape", "(?:Netscape6?|Navigator)/([0-9][0-9.]*)", "Netscape", "Navigator/"),
    br("Lynx", "Lynx/([0-9][0-9.]*)", "Lynx/"),
    br("ELinks", "ELinks/([0-9][0-9.]*)", "ELinks/"),
    br("Links", "Links \\(([0-9][0-9.]*)", "Links ("),
    br("w3m", "w3m/([0-9][0-9.]*)", "w3m/"),
    br("Dillo", "Dillo/([0-9][0-9.]*)", "Dillo/"),
    // ---- Safari and IE close the cascade
    br("Safari", "Version/([0-9][0-9.]*)", "Safari/"),
    br("IE Mobile", "IEMobile[/ ]([0-9][0-9.]*)", "IEMobile"),
    br("Internet Explorer", "(?:MSIE |rv:)([0-9][0-9.]*)", "MSIE", "Trident/")
  )

  /** OS rule: same shape; "" verRegex = no version; `underscoreToDot`
    * converts Apple's 10_15_7 forms. First-match-wins order encodes the
    * real containment chains: Windows Phone UAs may carry Android tokens,
    * HarmonyOS carries Android, KaiOS carries Android, Android carries
    * Linux, Ubuntu/Fedora/Sailfish/Maemo/BSDs carry Linux or X11. */
  final case class OsRule(
    tokens: Seq[String],
    family: String,
    verRegex: String,
    underscoreToDot: Boolean = false)

  private def os(family: String, verRegex: String, tokens: String*) =
    OsRule(tokens, family, verRegex)

  val OsRules: Seq[OsRule] = Seq(
    os("Windows Phone", "Windows Phone (?:OS )?([0-9.]+)", "Windows Phone"),
    os("Windows CE", "", "Windows CE"),
    os("Windows ME", "", "Win 9x 4.90"),
    os("Windows 98", "", "Windows 98", "Win98"),
    os("Windows 95", "", "Windows 95", "Win95"),
    os("Windows", "Windows NT ([0-9.]+)", "Windows NT"),
    os("HarmonyOS", "", "HarmonyOS"),
    os("KaiOS", "KAIOS/([0-9.]+)", "KAIOS/"),
    os("Android", "Android ([0-9.]+)", "Android"),
    OsRule(Seq("iPhone OS"), "iOS", "iPhone OS ([0-9_]+)", underscoreToDot = true),
    OsRule(Seq("iPad"), "iOS", "CPU OS ([0-9_]+)", underscoreToDot = true),
    os("iOS", "", "iPhone", "iOS"),
    os("ChromeOS", "CrOS [a-zA-Z0-9_]+ ([0-9.]+)", "CrOS"),
    // tvOS before macOS: Apple TV UAs carry "like Mac OS X" too
    os("tvOS", "", "AppleTV", "Apple TV", "tvOS"),
    OsRule(Seq("Mac OS X"), "macOS", "Mac OS X ([0-9_.]+)", underscoreToDot = true),
    os("Tizen", "Tizen ([0-9.]+)", "Tizen"),
    os("webOS", "(?:webOS|hpwOS)/([0-9.]+)", "Web0S", "webOS", "hpwOS"),
    os("Roku OS", "Roku/DVP-([0-9.]+)", "Roku/"),
    os("PlayStation", "PlayStation [0-9] ([0-9.]+)", "PlayStation", "PLAYSTATION"),
    os("Nintendo", "", "Nintendo"),
    os("BlackBerry Tablet OS", "RIM Tablet OS ([0-9.]+)", "RIM Tablet OS"),
    os("BlackBerry OS", "Version/([0-9.]+)", "BB10", "BlackBerry"),
    os("Nokia Series 40", "", "Series40"),
    os("Symbian", "SymbianOS/([0-9.]+)", "SymbianOS", "Symbian", "Series60"),
    os("Bada", "[Bb]ada/([0-9.]+)", "Bada/", "bada/"),
    os("MeeGo", "", "MeeGo"),
    os("Maemo", "", "Maemo"),
    os("Sailfish", "Sailfish ([0-9.]+)", "Sailfish"),
    os("Ubuntu", "Ubuntu[/ ]([0-9.]+)", "Ubuntu"),
    os("Fedora", "", "Fedora"),
    os("FreeBSD", "", "FreeBSD"),
    os("OpenBSD", "", "OpenBSD"),
    os("NetBSD", "", "NetBSD"),
    os("DragonFly BSD", "", "DragonFly"),
    os("Solaris", "", "SunOS"),
    os("Fuchsia", "", "Fuchsia"),
    os("QNX", "", "QNX"),
    os("Linux", "", "Linux", "X11;")
  )

  /** NT version → marketing name (reference UserAgentUtils granularity). */
  val WindowsVersions: Seq[(String, String)] = Seq(
    "10.0" -> "Windows 10", "6.3" -> "Windows 8.1", "6.2" -> "Windows 8",
    "6.1" -> "Windows 7", "6.0" -> "Windows Vista", "5.2" -> "Windows XP",
    "5.1" -> "Windows XP", "5.0" -> "Windows 2000")

  /** Lowercased bot / crawler / HTTP-client / monitoring / scanner tokens
    * (reference `registry/IabEnrichment.scala` spider detection + the SDK
    * clients, AI crawlers, uptime monitors and security scanners a
    * training-data pipeline must drop). Substring "bot" already catches
    * Googlebot, bingbot, GPTBot, ClaudeBot, PetalBot, Discordbot, …;
    * "spider" catches Baiduspider and Bytespider; "crawler" the generic
    * long tail. */
  val BotTokens: Seq[String] = Seq(
    "bot", "crawler", "spider", "slurp", "archiver", "wget", "curl",
    "python-requests", "okhttp", "go-http-client", "java/", "httpclient",
    "phantomjs", "headlesschrome", "facebookexternalhit", "bingpreview",
    "scrapy", "axios/", "whatsapp/", "dalvik/",
    // search/ads fetchers without a "bot" substring
    "mediapartners", "inspectiontool", "feedfetcher", "meta-external",
    // AI crawlers without a "bot" substring
    "chatgpt-user", "anthropic-ai", "cohere-ai",
    // SDK / scripting HTTP clients
    "python-urllib", "aiohttp", "httpx", "libwww-perl", "node-fetch",
    "postmanruntime", "insomnia", "jsdom", "playwright", "cfnetwork",
    // uptime / performance monitors
    "statuscake", "datadog", "newrelic", "gtmetrix", "lighthouse", "feedly",
    // network scanners
    "zgrab", "masscan", "censys", "expanse", "internetmeasurement",
    "w3c_validator")

  /** Regex bodies shared verbatim by the Column and SQL cascades (RE2-safe,
    * applied to the lowercased / raw UA respectively). */
  val BotRegex: String = BotTokens.mkString("|") // every token is a regex-safe literal
  val ConsoleRegex: String = "PlayStation|PLAYSTATION|Nintendo|Xbox"
  val TvRegex: String =
    "SMART-TV|SmartTV|Smart TV|AppleTV|Apple TV|CrKey|Roku|AFT[A-Z]|BRAVIA|Tizen|" +
      "Web0S|webOS|HbbTV|GoogleTV|VIDAA|NetCast|Viera|SHIELD Android TV|MIBOX|MiBox"

  /** Tablet signals that carry the "Mobile" token anyway — device-db cases
    * (YAUAA DeviceClass vectors: Galaxy Tab GT-P…/SM-T…/SM-X…, Nexus
    * 7/9/10, Kindle/Silk, Huawei MediaPad, Xiaomi MI PAD, Lenovo TB,
    * BlackBerry PlayBook) plus Firefox's explicit "Tablet;" token. */
  val TabletModels: String =
    "GT-P[0-9]|SM-T[0-9]|SM-X[0-9]|Nexus (7|9|10)|Kindle|Silk/|Lenovo TB|" +
      "MediaPad|MI PAD|PlayBook|RIM Tablet|Tablet;"

  /** Phone signals for UAs without the plain "Mobile" token: legacy
    * BlackBerry, Windows Mobile IE, Symbian/Series60, J2ME feature phones,
    * Opera Mobi, WAP-era browsers. Shared by the Column twin, the fused
    * kernel and the SQL emitter. */
  val PhoneTokens: Seq[String] = Seq(
    "iPhone", "Mobile", "Windows Phone", "BlackBerry", "IEMobile", "Symbian",
    "Series60", "Series40", "Opera Mobi", "MIDP", "UP.Browser")

  // ---- Column cascades ---------------------------------------------------

  /** Fused bot check ([[graft.plans.BotMatchExpression]] →
    * [[isBotString]]); `isBotColumns` is the specification twin the
    * differential spec pins it against. Null semantics match rlike:
    * null in, null out. */
  def isBot(ua: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.BotMatchExpression(
        org.apache.spark.sql.graft.ColumnBridge.expression(ua)))

  /** The Column cascade the kernel replaced — kept as the readable
    * specification twin of [[isBotString]]. */
  def isBotColumns(ua: Column): Column = lower(ua).rlike(BotRegex)

  private def hasAny(ua: Column, tokens: Seq[String]): Column =
    tokens.map(t => ua.contains(t)).reduce(_ || _)

  /** Fused first-match family kernel ([[graft.plans.BrowserFamilyExpression]]
    * → [[browserFamilyRow]]); the coalesce reproduces the cascade's
    * null-UA → "Unknown" fall-through. */
  def browserFamily(ua: Column): Column =
    coalesce(
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.plans.BrowserFamilyExpression(
          org.apache.spark.sql.graft.ColumnBridge.expression(ua))),
      lit("Unknown"))

  /** The Column cascade the kernel replaced — kept as the readable
    * specification twin; the SQL oracle emitter mirrors THIS shape and the
    * differential property spec pins kernel == twin. */
  def browserFamilyColumns(ua: Column): Column =
    BrowserRules.foldLeft(when(isBotColumns(ua), lit("Robot"))) { case (acc, r) =>
      acc.when(hasAny(ua, r.tokens), lit(r.family))
    }.otherwise(lit("Unknown"))

  /** Version string of the detected browser family (incl. legacy
    * `Opera 7.02`, `MSIE 9.0` and Trident `rv:11.0` forms); fused kernel
    * ([[graft.plans.BrowserVersionExpression]] → [[browserVersionRow]]),
    * sharing the family cascade's rule order. */
  def browserVersion(ua: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.BrowserVersionExpression(
        org.apache.spark.sql.graft.ColumnBridge.expression(ua)))

  /** The Column cascade the kernel replaced — specification twin of
    * [[browserVersionRow]]. */
  def browserVersionColumns(ua: Column): Column =
    BrowserRules.foldLeft(when(lit(false), lit(""))) { case (acc, r) =>
      if (r.verRegex.isEmpty) acc.when(hasAny(ua, r.tokens), lit(null))
      else acc.when(hasAny(ua, r.tokens), nullif(regexp_extract(ua, r.verRegex, 1), lit("")))
    }.otherwise(lit(null))

  def osFamily(ua: Column): Column =
    OsRules.foldLeft(when(lit(false), lit(""))) { case (acc, r) =>
      acc.when(hasAny(ua, r.tokens), lit(r.family))
    }.otherwise(lit("Unknown"))

  /** Marketing OS name — the granularity UserAgentUtils reports ("Windows 7"
    * for NT 6.1, etc.); falls back to [[osFamily]]. */
  def osName(ua: Column): Column = {
    val nt = regexp_extract(ua, "Windows NT ([0-9.]+)", 1)
    val win = WindowsVersions.foldLeft(when(lit(false), lit(""))) { case (acc, (v, name)) =>
      acc.when(nt === v, lit(name))
    }.otherwise(lit("Windows"))
    when(!ua.contains("Windows Phone") && ua.contains("Windows NT"), win)
      .otherwise(osFamily(ua))
  }

  /** OS version digits: `Windows NT 10.0` → 10.0, `Android 14` → 14,
    * `iPhone OS 17_1` → 17.1, `Mac OS X 10_15_7` → 10.15.7. */
  def osVersion(ua: Column): Column =
    OsRules.foldLeft(when(lit(false), lit(""))) { case (acc, r) =>
      if (r.verRegex.isEmpty) acc.when(hasAny(ua, r.tokens), lit(null))
      else {
        val v = nullif(regexp_extract(ua, r.verRegex, 1), lit(""))
        acc.when(hasAny(ua, r.tokens), if (r.underscoreToDot) translate(v, "_", ".") else v)
      }
    }.otherwise(lit(null))

  /** YAUAA-style coarse device class (reference `YauaaEnrichmentSpec`
    * DeviceClass vector table), extended with TVs/streaming sticks —
    * fused per-row kernel (see [[deviceClassRow]]). */
  def deviceClass(ua: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.DeviceClassExpression(
        org.apache.spark.sql.graft.ColumnBridge.expression(ua)))

  /** The Column-built cascade the kernel replaced — kept as the readable
    * specification twin; the SQL oracle emitter mirrors THIS shape and the
    * differential property spec pins kernel == twin. */
  def deviceClassColumns(ua: Column): Column =
    when(ua.isNull, lit(null).cast("string")) // kernel parity: null in, null out
      .when(isBot(ua), lit("Robot"))
      .when(ua.rlike(ConsoleRegex), lit("Game Console"))
      .when(ua.rlike(TvRegex), lit("TV"))
      // Opera Mini runs on phones but its UA carries no Mobile token —
      // classify before the Android-sans-Mobile tablet heuristic
      .when(ua.contains("Opera Mini/"), lit("Phone"))
      .when(ua.contains("iPad") || ua.rlike(TabletModels), lit("Tablet"))
      .when(ua.contains("Android") && !ua.contains("Mobile"), lit("Tablet"))
      .when(hasAny(ua, PhoneTokens), lit("Phone"))
      .otherwise(lit("Desktop"))

  // ---- fused imperative kernel (called from DeviceClassExpression) -------

  /** Literal TV tokens (everything in [[TvRegex]] except AFT[A-Z]). */
  private val TvTokens = Array("SMART-TV", "SmartTV", "Smart TV", "AppleTV", "Apple TV",
    "CrKey", "Roku", "BRAVIA", "Tizen", "Web0S", "webOS", "HbbTV", "GoogleTV",
    "VIDAA", "NetCast", "Viera", "SHIELD Android TV", "MIBOX", "MiBox")
  /** All occurrences of `lit` in `ua`, true iff one is followed by a char in
    * [lo, hi] — the hand-rolled twin of the `lit[lo-hi]` regex form. The
    * TabletModels java.util.regex alternation cost 7.6 µs/row (measured:
    * 0.76 s of the 0.86 s/100k-row kernel at sf0.1); every alternation is a
    * literal or literal-then-char-class, so indexOf scans replace it. */
  private def litThenRange(ua: String, lit: String, lo: Char, hi: Char): Boolean = {
    var from = ua.indexOf(lit)
    while (from >= 0) {
      val next = from + lit.length
      if (next < ua.length) {
        val c = ua.charAt(next)
        if (c >= lo && c <= hi) return true
      }
      from = ua.indexOf(lit, from + 1)
    }
    false
  }

  /** Twin of `TabletModels` (regex kept as the SQL-oracle source of truth):
    * GT-P[0-9]|SM-T[0-9]|SM-X[0-9]|Nexus (7|9|10)|Kindle|Silk/|Lenovo TB|
    * MediaPad|MI PAD|PlayBook|RIM Tablet|Tablet; */
  private val TabletLiterals = Array("Kindle", "Silk/", "Lenovo TB", "MediaPad",
    "MI PAD", "PlayBook", "RIM Tablet", "Tablet;", "Nexus 7", "Nexus 9", "Nexus 10")

  private def isTabletModel(ua: String): Boolean =
    containsAny(ua, TabletLiterals) ||
      litThenRange(ua, "GT-P", '0', '9') ||
      litThenRange(ua, "SM-T", '0', '9') ||
      litThenRange(ua, "SM-X", '0', '9')
  private val BotTokArr = BotTokens.toArray
  private val ConsoleTokens = Array("PlayStation", "PLAYSTATION", "Nintendo", "Xbox")
  private val PhoneTokArr = PhoneTokens.toArray

  /** True iff lower(ua) contains any bot token — byte-identical to
    * `lower(ua) rlike BotRegex` (every token is a literal). */
  def isBotString(ua: String): Boolean = {
    val l = ua.toLowerCase
    var i = 0
    while (i < BotTokArr.length) {
      if (l.contains(BotTokArr(i))) return true
      i += 1
    }
    false
  }

  /** Row function of [[graft.plans.BotMatchExpression]]. */
  def isBotRow(ua: UTF8String): Boolean = isBotString(ua.toString)

  private def containsAny(ua: String, tokens: Array[String]): Boolean = {
    var i = 0
    while (i < tokens.length) {
      if (ua.contains(tokens(i))) return true
      i += 1
    }
    false
  }

  // ---- fused browser family / version kernels (r15) -----------------------
  // Called from graft.plans.BrowserFamilyExpression /
  // BrowserVersionExpression; per-row twins of browserFamilyColumns /
  // browserVersionColumns. Token tables and version patterns are built once
  // per JVM from the same BrowserRules the Column cascade and the DuckDB
  // SQL emitter compile from.
  private val BrowserTokenArrs: Array[Array[String]] =
    BrowserRules.map(_.tokens.toArray).toArray
  private val BrowserFamilies: Array[String] = BrowserRules.map(_.family).toArray
  private val BrowserVerPatterns: Array[java.util.regex.Pattern] =
    BrowserRules.map(r =>
      if (r.verRegex.isEmpty) null else java.util.regex.Pattern.compile(r.verRegex)).toArray

  /** Per-row twin of [[browserFamilyColumns]] for non-null UAs: "Robot" for
    * bot UAs, first matching rule's family, else "Unknown". (The Column
    * wrapper maps null UA → "Unknown" via coalesce.) */
  def browserFamilyRow(uaU: UTF8String): UTF8String = {
    val ua = uaU.toString
    UTF8String.fromString(
      if (isBotString(ua)) "Robot"
      else {
        val i = firstRule(ua, BrowserTokenArrs)
        if (i >= 0) BrowserFamilies(i) else "Unknown"
      })
  }

  /** Per-row twin of [[browserVersionColumns]]: group 1 of the FIRST
    * matching rule's version regex; null when that rule has no version
    * pattern, the pattern finds no match (regexp_extract's '' → nullif),
    * or no rule matches. */
  def browserVersionRow(uaU: UTF8String): UTF8String = {
    val ua = uaU.toString
    val i = firstRule(ua, BrowserTokenArrs)
    if (i >= 0) UTF8String.fromString(versionOf(i, ua)) else null
  }

  /** Group 1 of browser rule `i`'s version regex over `ua`, '' → null. */
  private def versionOf(i: Int, ua: String): String = {
    val p = BrowserVerPatterns(i)
    if (p == null) return null
    val m = p.matcher(ua)
    if (!m.find()) return null
    val g = m.group(1)
    if (g == null || g.isEmpty) null else g
  }

  /** Per-row twin of [[deviceClassColumns]]: identical cascade, indexOf
    * token scans instead of regex alternations (only AFT-models and the
    * tablet-model table stay regexes — they have real patterns). */
  def deviceClassRow(uaU: UTF8String): UTF8String = {
    val ua = uaU.toString
    UTF8String.fromString(deviceClassOf(ua, isBotString(ua)))
  }

  /** [[deviceClassRow]] for a non-null UA whose bot scan already ran. */
  private def deviceClassOf(ua: String, bot: Boolean): String = {
    if (bot) "Robot"
    else if (containsAny(ua, ConsoleTokens)) "Game Console"
    else if (containsAny(ua, TvTokens) || litThenRange(ua, "AFT", 'A', 'Z')) "TV"
    else if (ua.contains("Opera Mini/")) "Phone"
    else if (ua.contains("iPad") || isTabletModel(ua)) "Tablet"
    else if (ua.contains("Android") && !ua.contains("Mobile")) "Tablet"
    else if (containsAny(ua, PhoneTokArr)) "Phone"
    else "Desktop"
  }

  def isMobile(ua: Column): Column =
    deviceClass(ua).isin("Phone", "Tablet")

  // ---- one fused UA parse (called from graft.plans.UaParseExpression) ----

  private val OsTokenArrs: Array[Array[String]] = OsRules.map(_.tokens.toArray).toArray
  private val OsFamilies: Array[String] = OsRules.map(_.family).toArray

  /** Index of the first rule whose token list hits `ua`, or -1. */
  private def firstRule(ua: String, tokenArrs: Array[Array[String]]): Int = {
    var i = 0
    while (i < tokenArrs.length) {
      if (containsAny(ua, tokenArrs(i))) return i
      i += 1
    }
    -1
  }

  /** Every UaParser column from one parse of the UA: struct(br_family,
    * br_version, os_family, dvce_type, dvce_ismobile, is_bot) — the Column
    * entry point for [[graft.plans.UaParseExpression]]. Each field equals
    * its Column twin, nulls included: [[browserFamilyColumns]],
    * [[browserVersionColumns]], [[osFamily]], [[deviceClassColumns]],
    * [[isMobile]] and [[isBotColumns]]. */
  def uaParsed(ua: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.UaParseExpression(
        org.apache.spark.sql.graft.ColumnBridge.expression(ua)))

  /** A null UA: the two cascades that end in `otherwise("Unknown")` say
    * "Unknown", every other column is null. */
  private val NullUaRow: Array[Any] = Array(
    UTF8String.fromString("Unknown"), null, UTF8String.fromString("Unknown"), null, null, null)

  /** Per-row entry for [[graft.plans.UaParseExpression]]: one UTF-8 decode,
    * one lower-cased bot scan shared by the family and the device class,
    * one browser-rule walk shared by the family and the version. */
  def uaParseRow(uaU: UTF8String): InternalRow = {
    if (uaU == null) return new GenericInternalRow(NullUaRow.clone())
    val ua = uaU.toString
    val bot = isBotString(ua)
    val rule = firstRule(ua, BrowserTokenArrs)
    val family = if (bot) "Robot" else if (rule >= 0) BrowserFamilies(rule) else "Unknown"
    val version = if (rule >= 0) versionOf(rule, ua) else null
    val os = firstRule(ua, OsTokenArrs)
    val dc = deviceClassOf(ua, bot)
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(family),
      if (version == null) null else UTF8String.fromString(version),
      UTF8String.fromString(if (os >= 0) OsFamilies(os) else "Unknown"),
      UTF8String.fromString(dc),
      dc == "Phone" || dc == "Tablet",
      bot))
  }

  // ---- device brand / model ----------------------------------------------
  // Reference `registry/YauaaEnrichment.scala` emits deviceBrand/deviceName
  // beyond the coarse class. Same declarative-rule-table design as the
  // browser/OS cascades: ordered extraction regexes (group 1 = model,
  // RE2-safe, shared verbatim with the DuckDB twin) + a prefix→brand table
  // hand-curated from public device-code conventions (Samsung SM-/GT-,
  // Google Pixel/Nexus, Xiaomi M2*/2YMMxxx codes, Huawei two-to-four-letter
  // codes, Amazon KF*/AFT*, …).

  /** Ordered model-extraction regexes; first non-empty group-1 wins.
    *  1. Android "; model Build/" (locale segments skipped by the [;(]
    *     anchor),
    *  2. Android "...; model)" tail without Build,
    *  3. bare vendor codes "XXX-YYY;" (Huawei ELS-NX9 behind HMSCore etc.),
    *  4. Apple literals, 5. Lumia, 6. BlackBerry/PlayBook, 7. Kindle Fire
    *     KF* codes, 8. KaiOS-era Nokia_ underscore names.
    */
  val DeviceModelRegexes: Seq[String] = Seq(
    "[;(] ?([A-Za-z0-9 ._+-]+) Build/",
    "Android [0-9][0-9._]*; ([A-Za-z0-9 ._+-]+)\\)",
    "; ([A-Z]{2,4}-[A-Z0-9]{2,6})[;)]",
    "\\((iPad|iPhone|iPod)",
    "(Lumia [0-9]+[A-Za-z]*)",
    "(BlackBerry [0-9]+|PlayBook)",
    "(KF[A-Z][A-Z0-9]*|Kindle)",
    "(Nokia_[A-Za-z0-9_]+)")

  /** model-prefix → brand (first match wins; case-sensitive — the codes
    * are). A model with no matching prefix reports brand "Unknown"; no
    * model, null brand. */
  val DeviceBrandPrefixes: Seq[(String, String)] = Seq(
    "SM-" -> "Samsung", "GT-" -> "Samsung", "SGH-" -> "Samsung",
    "SCH-" -> "Samsung", "SPH-" -> "Samsung", "SHV-" -> "Samsung",
    "Galaxy" -> "Samsung",
    "Pixel" -> "Google", "Nexus" -> "Google",
    "iPhone" -> "Apple", "iPad" -> "Apple", "iPod" -> "Apple",
    "Lumia" -> "Nokia", "Nokia" -> "Nokia",
    "RMX" -> "Realme",
    "CPH" -> "Oppo", "OPPO" -> "Oppo", "PCLM" -> "Oppo", "PGBM" -> "Oppo",
    "ONEPLUS" -> "OnePlus", "KB20" -> "OnePlus", "LE21" -> "OnePlus",
    "HD19" -> "OnePlus",
    "M1" -> "Xiaomi", "M2" -> "Xiaomi", "MI " -> "Xiaomi", "Mi " -> "Xiaomi",
    "MIBOX" -> "Xiaomi", "Redmi" -> "Xiaomi", "POCO" -> "Xiaomi",
    "ELS-" -> "Huawei", "VOG-" -> "Huawei", "ANA-" -> "Huawei",
    "NOH-" -> "Huawei", "LYA-" -> "Huawei", "EML-" -> "Huawei",
    "CLT-" -> "Huawei", "ANE-" -> "Huawei", "JNY-" -> "Huawei",
    "MediaPad" -> "Huawei", "HUAWEI" -> "Huawei", "AGS" -> "Huawei",
    "vivo" -> "Vivo", "V2" -> "Vivo",
    "Infinix" -> "Infinix", "TECNO" -> "Tecno", "itel" -> "Itel",
    "moto" -> "Motorola", "Moto" -> "Motorola", "XT1" -> "Motorola",
    "XT2" -> "Motorola",
    "LM-" -> "LG", "LG-" -> "LG",
    "HTC" -> "HTC",
    "ASUS" -> "Asus", "ZenFone" -> "Asus",
    "Lenovo" -> "Lenovo", "TB-" -> "Lenovo",
    "SHIELD" -> "Nvidia",
    "KF" -> "Amazon", "Kindle" -> "Amazon", "AFT" -> "Amazon",
    "Xperia" -> "Sony", "SO-" -> "Sony", "SOV" -> "Sony", "BRAVIA" -> "Sony",
    "BlackBerry" -> "BlackBerry", "PlayBook" -> "BlackBerry",
    "RM-" -> "Nokia", "Hisense" -> "Hisense")

  /** Xiaomi's unnamed numeric model codes: 2 + YMM + digits + region
    * letters (2201116SG, 21091116AC, 23021RAAEG, …). */
  val XiaomiNumericRe: String = "^2[0-9]{4,10}[A-Z]{0,5}$"

  /** Raw hardware model from the UA, null when the UA names no device
    * (desktop browsers, bots, SDK clients). */
  def deviceModel(ua: Column): Column =
    coalesce(DeviceModelRegexes.map(re => nullif(regexp_extract(ua, re, 1), lit(""))): _*)

  /** Brand of [[deviceModel]]: prefix-table match, "Unknown" for an
    * unrecognized model, null when there is no model. */
  def deviceBrand(ua: Column): Column = brandOfModel(deviceModel(ua))

  def brandOfModel(model: Column): Column = {
    val cascade = DeviceBrandPrefixes.foldLeft(when(lit(false), lit(""))) {
      case (acc, (p, b)) => acc.when(model.startsWith(p), lit(b))
    }
    when(model.isNull, lit(null).cast("string"))
      .otherwise(cascade.when(model.rlike(XiaomiNumericRe), lit("Xiaomi")).otherwise(lit("Unknown")))
  }

  // SQL twins (generated from the same tables; see the SQL section below
  // for the house pattern)
  def deviceModelSql(ua: String): String =
    "coalesce(" + DeviceModelRegexes.map(re =>
      s"nullif(regexp_extract($ua, '${re.replace("'", "''")}', 1), '')").mkString(", ") + ")"

  def brandOfModelSql(model: String): String =
    s"CASE WHEN $model IS NULL THEN NULL " +
      DeviceBrandPrefixes.map { case (p, b) =>
        s"WHEN starts_with($model, '${p.replace("'", "''")}') THEN '$b'"
      }.mkString(" ") +
      s" WHEN regexp_matches($model, '$XiaomiNumericRe') THEN 'Xiaomi'" +
      " ELSE 'Unknown' END"

  // ---- DuckDB SQL twins (generated from the SAME rule tables) ------------

  private def hasSql(ua: String, t: String): String = s"position('$t' IN $ua) > 0"

  private def hasAnySql(ua: String, tokens: Seq[String]): String =
    tokens.map(hasSql(ua, _)).mkString("(", " OR ", ")")

  def isBotSql(ua: String): String = s"regexp_matches(lower($ua), '$BotRegex')"

  // the regex passes through VERBATIM: DuckDB single-quoted strings keep
  // backslashes literal, so `Links \(` reads identically on both engines
  private def verSql(ua: String, re: String): String =
    s"nullif(regexp_extract($ua, '$re', 1), '')"

  def brFamilySql(ua: String): String =
    s"CASE WHEN ${isBotSql(ua)} THEN 'Robot' " +
      BrowserRules.map(r => s"WHEN ${hasAnySql(ua, r.tokens)} THEN '${r.family}'").mkString(" ") +
      " ELSE 'Unknown' END"

  def brVersionSql(ua: String): String =
    "CASE " +
      BrowserRules.map { r =>
        val v = if (r.verRegex.isEmpty) "NULL" else verSql(ua, r.verRegex)
        s"WHEN ${hasAnySql(ua, r.tokens)} THEN $v"
      }.mkString(" ") + " END"

  def osFamilySql(ua: String): String =
    "CASE " +
      OsRules.map(r => s"WHEN ${hasAnySql(ua, r.tokens)} THEN '${r.family}'").mkString(" ") +
      " ELSE 'Unknown' END"

  def osNameSql(ua: String): String = {
    val nt = s"regexp_extract($ua, 'Windows NT ([0-9.]+)', 1)"
    val win = "CASE " +
      WindowsVersions.map { case (v, n) => s"WHEN $nt = '$v' THEN '$n'" }.mkString(" ") +
      " ELSE 'Windows' END"
    s"CASE WHEN NOT ${hasSql(ua, "Windows Phone")} AND ${hasSql(ua, "Windows NT")} THEN $win " +
      s"ELSE ${osFamilySql(ua)} END"
  }

  def osVersionSql(ua: String): String =
    "CASE " + OsRules.map { r =>
      val v =
        if (r.verRegex.isEmpty) "NULL"
        else if (r.underscoreToDot) s"translate(${verSql(ua, r.verRegex)}, '_', '.')"
        else verSql(ua, r.verRegex)
      s"WHEN ${hasAnySql(ua, r.tokens)} THEN $v"
    }.mkString(" ") + " END"

  def deviceClassSql(ua: String): String =
    s"""CASE
       |  WHEN ${isBotSql(ua)} THEN 'Robot'
       |  WHEN regexp_matches($ua, '$ConsoleRegex') THEN 'Game Console'
       |  WHEN regexp_matches($ua, '$TvRegex') THEN 'TV'
       |  WHEN ${hasSql(ua, "Opera Mini/")} THEN 'Phone'
       |  WHEN ${hasSql(ua, "iPad")} OR regexp_matches($ua, '$TabletModels') THEN 'Tablet'
       |  WHEN ${hasSql(ua, "Android")} AND position('Mobile' IN $ua) = 0 THEN 'Tablet'
       |  WHEN ${hasAnySql(ua, PhoneTokens)} THEN 'Phone'
       |  ELSE 'Desktop' END""".stripMargin
}
