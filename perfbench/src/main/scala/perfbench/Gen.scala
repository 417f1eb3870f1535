package perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.util.Random

/** What the enrichment app must make of one generated event. Columns left
  * `None` are not checked for that event (their value depends on lookup
  * tables of the app, not on the tracker protocol). */
final case class Expect(
  id: Long,
  expect_bad: Boolean,
  kind: String,
  messages: Seq[String],
  event: Option[String],
  platform: Option[String],
  dvce_screenwidth: Option[Int],
  dvce_screenheight: Option[Int],
  page_urlhost: Option[String],
  page_urlpath: Option[String],
  mkt_source: Option[String],
  mkt_medium: Option[String],
  mkt_campaign: Option[String],
  derived_tstamp_us: Option[Long],
  user_ipaddress: Option[String]
)

/** One generated collector event. `id` is its collector timestamp in epoch
  * micros: unique per event, it is the key every output check joins on.
  * The tracker's created time is set when the line is written: an offset
  * before the collector time in a backfill, the due time of its file in a
  * stream. The sent time follows it by `sentDelayMs`. */
final case class Event(
  id: Long,
  ip: String,
  ua: String,
  loaderUrl: String,
  code: String,
  qsRest: String,
  createdOffsetMs: Long,
  sentDelayMs: Long,
  expect: Expect
) {
  /** The collector TSV line, with the tracker's created time `createdMs`. */
  def line(createdMs: Long): String =
    s"$id\t$ip\t$ua\t$loaderUrl\t$code\t" +
      s"dtm=$createdMs&stm=${createdMs + sentDelayMs}&$qsRest"
}

/** The seeded collector-TSV generator. It shares no code with the app: the
  * expectations it records come from the tracker protocol itself (event
  * codes, platforms, `res`, URL parts, `utm_*` params, derived timestamp
  * rule, IPv4 masking of the two last octets). */
object Gen {
  /** Epoch micros of the first event (2026-01-01T00:00:00Z). */
  val BaseUs = 1767225600000000L
  /** The first events of every input come from this fixed seed, whatever
    * the run's seed: their good rows' digest is recorded in golden.json. */
  val CanarySeed = 0L

  /** The traffic shape. These values are assumptions, not measurements of
    * real collector traffic: pool sizes and Zipf exponents of UAs, page URLs
    * and IPs, the IPv6 share and the corrupted share. They set the input
    * properties [[properties]] reports (`ua_repeat_share` about 0.94), which
    * a claim about cache reuse must cite. */
  val UaPool = 3000
  val PagePool = 5000
  val IpPool = 20000
  val UaZipf = 1.2
  val PageZipf = 1.1
  val IpZipf = 1.0
  val Ipv6Share = 0.05
  val DirtyShare = 0.027

  private val Codes = Seq("pv" -> "page_view", "pp" -> "page_ping", "se" -> "struct",
    "ue" -> "unstruct", "tr" -> "transaction", "ti" -> "transaction_item")
  private val CodeWeights = Seq(0.55, 0.2, 0.1, 0.05, 0.05, 0.05)
  private val Platforms = Seq("web" -> 0.8, "mob" -> 0.1, "app" -> 0.1)
  private val Resolutions = Seq((1920, 1080), (1366, 768), (1536, 864), (1440, 900),
    (390, 844), (414, 896), (360, 800), (2560, 1440), (1280, 720), (768, 1024))
  private val Hosts = Seq("www.acme-shop.com", "news.example.org", "blog.tinkerlab.io",
    "docs.widgetco.com", "m.acme-shop.com", "store.northwind.net", "www.pixelpress.com",
    "app.fieldnotes.dev", "support.widgetco.com", "www.greenleaf.co.uk", "shop.bluefin.de",
    "www.travelnest.fr", "forum.tinkerlab.io", "careers.northwind.net", "www.oddbits.jp")
  private val Words = Seq("home", "products", "sale", "blog", "news", "about", "cart",
    "checkout", "search", "account", "help", "shoes", "jackets", "laptops", "phones",
    "garden", "kitchen", "travel", "guides", "reviews", "pricing", "docs", "api", "careers")
  private val Sources = Seq("google", "bing", "newsletter", "facebook", "twitter", "partner")
  private val Mediums = Seq("cpc", "email", "social", "referral", "display")
  private val Campaigns = Seq("spring_sale", "black_friday", "launch_q3", "retarget", "brand")
  private val Referers = Seq("https://www.google.com/search?q=", "https://www.bing.com/search?q=",
    "https://duckduckgo.com/?q=", "https://t.co/", "https://www.facebook.com/",
    "https://www.reddit.com/r/")
  private val Currencies = Seq("USD", "EUR", "GBP", "JPY")
  private val Models = Seq("SM-G991B", "Pixel 7", "SM-A536B", "moto g(30)", "Redmi Note 11",
    "ONEPLUS A6013", "CPH2211", "SM-T870")

  /** Corruptions the app must reject into the bad stream, each with the
    * failure message its envelope must carry, and their relative weights. */
  val Rejecting: Seq[(String, Double)] =
    Seq("unknown_event_code" -> 0.35, "invalid_platform" -> 0.2,
      "oversized_ua" -> 0.25, "overlength_url" -> 0.2)
  /** Corruptions the app tolerates: the event stays good with the damaged
    * field nulled (res), unresolved (IP) or taken from the loader (URL). */
  val Tolerated: Seq[(String, Double)] =
    Seq("malformed_res" -> 0.4, "truncated_escape" -> 0.3, "invalid_ip" -> 0.3)

  private def pick[T](r: Random, xs: Seq[(T, Double)]): T = {
    var u = r.nextDouble() * xs.map(_._2).sum
    xs.find { case (_, w) => u -= w; u < 0 }.getOrElse(xs.last)._1
  }

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def next(r: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def userAgent(r: Random): String = {
    val maj = 100 + r.nextInt(30)
    val build = s"${maj}.0.${5000 + r.nextInt(1500)}.${r.nextInt(200)}"
    r.nextInt(10) match {
      case 0 | 1 => s"Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/$build Safari/537.36"
      case 2 => s"Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/$build Safari/537.36"
      case 3 => s"Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:$maj.0) Gecko/20100101 Firefox/$maj.0"
      case 4 =>
        val v = s"${15 + r.nextInt(3)}.${r.nextInt(7)}"
        s"Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/$v Safari/605.1.15"
      case 5 =>
        val (a, b) = (15 + r.nextInt(3), r.nextInt(7))
        s"Mozilla/5.0 (iPhone; CPU iPhone OS ${a}_$b like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/$a.$b Mobile/15E148 Safari/604.1"
      case 6 =>
        s"Mozilla/5.0 (Linux; Android ${10 + r.nextInt(5)}; ${Models(r.nextInt(Models.size))}) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/$build Mobile Safari/537.36"
      case 7 => s"Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/$build Safari/537.36 Edg/$build"
      case 8 => s"Mozilla/5.0 (X11; Linux x86_64; rv:$maj.0) Gecko/20100101 Firefox/$maj.0"
      case _ => Seq("Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
        "Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)",
        s"curl/8.${r.nextInt(10)}.0", s"python-requests/2.${20 + r.nextInt(12)}.0")(r.nextInt(4))
    }
  }

  /** (host, path, query, source, medium, campaign) of a page URL. */
  private final case class Page(host: String, path: String, query: String,
    source: Option[String], medium: Option[String], campaign: Option[String]) {
    def url: String = s"https://$host$path" + (if (query.isEmpty) "" else s"?$query")
  }

  private def page(r: Random): Page = {
    val host = Hosts(r.nextInt(Hosts.size))
    val segs = (0 to r.nextInt(3)).map(_ => Words(r.nextInt(Words.size)))
    val path = "/" + segs.mkString("/")
    if (r.nextDouble() < 0.3) {
      val (s, m, c) = (Sources(r.nextInt(Sources.size)), Mediums(r.nextInt(Mediums.size)),
        Campaigns(r.nextInt(Campaigns.size)))
      Page(host, path, s"utm_source=$s&utm_medium=$m&utm_campaign=$c", Some(s), Some(m), Some(c))
    } else {
      val q = if (r.nextDouble() < 0.2) s"ref=${r.nextInt(1000)}" else ""
      Page(host, path, q, None, None, None)
    }
  }

  private def ipv4(r: Random): String = {
    var a = 1 + r.nextInt(223)
    while (a == 10 || a == 127) a = 1 + r.nextInt(223)
    s"$a.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}"
  }

  /** UAs, page URLs and IPs drawn Zipf-skewed from seeded pools. */
  private final class Inputs(r: Random) {
    private val uaPool = Array.fill(UaPool)(userAgent(r))
    private val pagePool = Array.fill(PagePool)(Gen.page(r))
    private val ipPool = Array.fill(IpPool)(ipv4(r))
    private val uaZ = new Zipf(uaPool.length, UaZipf)
    private val pageZ = new Zipf(pagePool.length, PageZipf)
    private val ipZ = new Zipf(ipPool.length, IpZipf)
    def ua(): String = uaPool(uaZ.next(r))
    def page(): Page = pagePool(pageZ.next(r))
    def ip(): String = ipPool(ipZ.next(r))
  }

  /** `n` events with ids from `firstIndex`; the first `canary` of them come
    * from [[CanarySeed]]. */
  def events(seed: Long, n: Int, firstIndex: Long = 0, canary: Int = 0): Vector[Event] = {
    val fixed = math.min(canary, n)
    make(new Random(CanarySeed * 7919 + 17), fixed, firstIndex) ++
      make(new Random(seed * 7919 + 17 + 1), n - fixed, firstIndex + fixed)
  }

  private def make(r: Random, n: Int, firstIndex: Long): Vector[Event] = {
    val in = new Inputs(r)
    Vector.tabulate(n) { k =>
      val i = firstIndex + k
      val id = BaseUs + i * 1000L + r.nextInt(1000)
      var code = pick(r, Codes.map(_._1).zip(CodeWeights))
      var platform = pick(r, Platforms)
      val (w, h) = Resolutions(r.nextInt(Resolutions.size))
      var res = s"${w}x$h"
      var resOk = true
      var ua = in.ua()
      var pg = in.page()
      var urlParam = enc(pg.url)
      var ip = if (r.nextDouble() < Ipv6Share) f"2001:db8:${r.nextInt(65536)}%x::${r.nextInt(65536)}%x" else in.ip()
      val kinds = mutable.ArrayBuffer.empty[String]
      if (r.nextDouble() < DirtyShare) {
        // three in four corrupted events are rejected; a quarter of those
        // carry a second rejecting corruption
        if (r.nextDouble() < 0.75) {
          kinds += pick(r, Rejecting)
          if (r.nextDouble() < 0.25) {
            val second = pick(r, Rejecting)
            if (!kinds.contains(second)) kinds += second
          }
        } else kinds += pick(r, Tolerated)
      }
      val messages = mutable.ArrayBuffer.empty[String]
      kinds.foreach {
        case "unknown_event_code" =>
          code = Seq("zz", "pv2", "page_view", "p")(r.nextInt(4)); messages += "unknown event code"
        case "invalid_platform" =>
          platform = Seq("desktop", "WEB", "android", "x")(r.nextInt(4)); messages += "invalid platform"
        case "oversized_ua" =>
          ua = ua + " " + Iterator.fill(1100 + r.nextInt(900))(('a' + r.nextInt(26)).toChar).mkString
          messages += "useragent exceeds 1000 chars"
        case "overlength_url" =>
          pg = pg.copy(path = pg.path + "/" + Iterator.fill(4200 + r.nextInt(800))(('a' + r.nextInt(26)).toChar).mkString)
          urlParam = enc(pg.url); messages += "page_url exceeds 4096 chars"
        case "malformed_res" =>
          res = Seq("1920*1080", "wide", "x768", "99999999999x1", "1024x")(r.nextInt(5)); resOk = false
        case "truncated_escape" => urlParam = urlParam + "%E"
        case "invalid_ip" => ip = Seq("999.12.1.300", "not-an-ip", "1.2.3", "256.256.256.256")(r.nextInt(4))
      }
      val extra = new StringBuilder
      if (r.nextDouble() < 0.5) extra ++= s"&uid=user${r.nextInt(50000)}"
      if (r.nextDouble() < 0.6) {
        val refr = Referers(r.nextInt(Referers.size)) + Words(r.nextInt(Words.size))
        extra ++= s"&refr=${enc(refr)}"
      }
      if (r.nextDouble() < 0.1) extra ++= s"&_sp=${new java.util.UUID(r.nextLong(), r.nextLong())}.${1767225600000L + r.nextInt(1 << 30)}"
      if (code == "tr" || code == "ti")
        extra ++= f"&tr_tt=${r.nextInt(50000) / 100.0}%.2f&tr_cu=${Currencies(r.nextInt(Currencies.size))}"
      val qsRest = s"e=$code&p=$platform&res=$res&url=$urlParam&tv=js-3.9.0&aid=site${r.nextInt(8)}" + extra
      val createdOffsetMs = -(1 + r.nextInt(5000)).toLong
      val sentDelayMs = (1 + r.nextInt(3000)).toLong
      val bad = messages.nonEmpty
      val v4 = ip.matches("""\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}""") && !kinds.contains("invalid_ip")
      val expect = Expect(
        id = id,
        expect_bad = bad,
        kind = if (kinds.isEmpty) "none" else kinds.mkString("+"),
        messages = messages.toSeq,
        event = Codes.find(_._1 == code).map(_._2),
        platform = Some(platform),
        dvce_screenwidth = if (resOk) Some(w) else None,
        dvce_screenheight = if (resOk) Some(h) else None,
        page_urlhost = Some(pg.host),
        page_urlpath = Some(pg.path),
        mkt_source = pg.source,
        mkt_medium = pg.medium,
        mkt_campaign = pg.campaign,
        // created < sent always, so derived = collector - (sent - created)
        derived_tstamp_us = Some(id - sentDelayMs * 1000L),
        user_ipaddress = if (v4) Some(ip.split('.').take(2).mkString(".") + ".x.x") else None)
      // the loader's own page_url (the request's page) is the fallback the
      // tracker's url param overrides
      Event(id, ip, ua, pg.url, code, qsRest, createdOffsetMs, sentDelayMs, expect)
    }
  }

  /** Write `events` as `files` TSV files under `dir`, tracker created
    * times relative to each event's collector time. Returns bytes written. */
  def writeBatch(events: Vector[Event], dir: Path, files: Int): Long = {
    Files.createDirectories(dir)
    val per = math.max(1, (events.size + files - 1) / files)
    events.grouped(per).zipWithIndex.map { case (chunk, j) =>
      val text = chunk.map(e => e.line(e.id / 1000L + e.createdOffsetMs)).mkString("", "\n", "\n")
      val bytes = text.getBytes(UTF_8)
      Files.write(dir.resolve(f"part-$j%05d.tsv"), bytes)
      bytes.length.toLong
    }.sum
  }

  /** Write one stream file: stage it, then move it into `dir` atomically,
    * every event stamped with `dueMs` as its tracker created time. */
  def dropFile(events: Seq[Event], stage: Path, dir: Path, name: String, dueMs: Long): Long = {
    val bytes = events.map(_.line(dueMs)).mkString("", "\n", "\n").getBytes(UTF_8)
    val tmp = stage.resolve(name)
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }

  /** The input properties a claim about this workload must cite. */
  def properties(events: Seq[Event], bytes: Long): Seq[(String, Any)] = {
    val n = events.size.toDouble
    val kinds = events.flatMap(_.expect.kind.split('+')).filter(_ != "none")
      .groupBy(identity).map { case (k, v) => k -> v.size / n }
    val distinctUa = events.map(_.ua).distinct.size
    Seq(
      "events" -> events.size,
      "bytes" -> bytes,
      "bad_share" -> events.count(_.expect.expect_bad) / n,
      "corrupted_share" -> events.count(_.expect.kind != "none") / n,
      "corruption_share_by_kind" -> kinds,
      "distinct_ua" -> distinctUa,
      "distinct_url" -> events.map(_.loaderUrl).distinct.size,
      "distinct_ip" -> events.map(_.ip).distinct.size,
      "ua_repeat_share" -> (n - distinctUa) / n)
  }
}
