package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{ListenerBusDrain, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.enrich.Protocol
import graft.queries.PipelineQuery
import graft.sources.Sources

/** The whole default chain over generated malformed collector lines: bad
  * querystrings, truncated %-escapes, user agents of 64 KB and more,
  * invalid and mixed-family IPs, empty and NUL-laden fields. Every input
  * event lands in exactly one of good and bad, and no task fails. */
class MalformedInputSpec extends SparkSpec {

  private val BaseUs = 1704067200000000L
  private val Nul = "\u0000"

  private def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    Iterator.from(0).map(i => g.apply(Gen.Parameters.default, Seed(seed + i)))
      .flatten.take(n).toSeq

  private val emptyOrNul = Gen.oneOf("", Nul, s"a${Nul}b", s"$Nul$Nul")

  private val ip = Gen.oneOf(
    Gen.oneOf("94.15.223.151", "999.1.1.1", "1.2.3", "1.2.3.4.5", "-1.0.0.0",
      "::ffff:1.2.3.4", "2001:db8::1, 10.0.0.1", "10.0.0.1, 2001:db8::2", "fe80::1%eth0",
      "1:2:3:4:5:6:7:8:9", "::", "gggg::1", "abc", " , ,"),
    emptyOrNul)

  private val ua = Gen.oneOf(
    Gen.oneOf("Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/119.0",
      "curl/8.0", "(((((", "Mozilla/5.0 (compatible; Googlebot/2.1"),
    // 64 KB and more: one long token, and a long run of UA-like fragments
    Gen.choose(65536, 70000).map(n => "Mozilla/5.0 " + "A" * n),
    Gen.const("Mozilla/5.0 (Windows NT 10.0; Win64; x64) " * 1700),
    emptyOrNul)

  private val url = Gen.oneOf(
    Gen.oneOf("https://shop.example.com/p/1", "http://", "://x", "https://a.com:99999/x?y=%",
      "https://[::1/x", "not a url"),
    emptyOrNul)

  private val escape = Gen.oneOf("%", "%2", "%E2%82", "%zz", "%%", "%u00", "%2F%2")

  private val qs = {
    val param = for {
      k <- Gen.oneOf("e", "p", "res", "uid", "url", "refr", "dtm", "stm", "ttm", "tr_tt",
        "tr_cu", "_sp", "", "%")
      v <- Gen.oneOf(Gen.oneOf("pv", "web", "1920x1080", "x", "1e999", "-5", "NaN",
        "abc.def", "https%3A%2F%2Fshop.example.com%2Fp%2F1%3Futm_source%3Dg"), escape,
        escape.map("https%3A%2F%2Fx.com" + _), emptyOrNul)
      sep <- Gen.oneOf("=", "==", "")
    } yield s"$k$sep$v"
    Gen.oneOf(
      Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, param)).map(_.mkString("&")),
      Gen.oneOf("&&&", "=&=", "e", "?e=pv", "e=pv&p=web&res=abcxdef&dtm=notanumber"),
      emptyOrNul)
  }

  /** One collector line whose timestamp field is the event's id. */
  private def line(id: Long): Gen[String] = for {
    i <- ip; u <- ua; pu <- url
    e <- Gen.oneOf(Gen.oneOf("pv", "se", "tr", "zz"), emptyOrNul)
    q <- qs
  } yield Seq((BaseUs + id).toString, i, u, pu, e, q).mkString("\t")

  /** Lines whose timestamp itself is malformed (or missing), so they parse
    * to a null collector timestamp. */
  private val noTimestamp = Gen.oneOf(
    emptyOrNul.map(t => Seq(t, "94.15.223.151", "curl/8.0", "https://a.com/", "pv", "e=pv").mkString("\t")),
    Gen.oneOf("", Nul, "only-one-field", "17040672000000x\tip", s"1704$Nul\t\t\t\t\t"))

  test("chain over malformed raw events: good and bad partition the input, no task fails") {
    import spark.implicits._
    val n = 160
    val lines = (0 until n).map(i => line(i.toLong).apply(Gen.Parameters.default, Seed(1000L + i)).get)
    val broken = sample(noTimestamp, 12, 5000L)
    assert(lines.count(_.length >= 65536) >= 3, "the sample must carry user agents of 64 KB or more")

    val failedTasks = new AtomicInteger
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason != Success) failedTasks.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val (goodTs, badTs) =
      try {
        val raw = Protocol.fromCollector(Sources.parseCollectorTsv((lines ++ broken).toDF("value")))
        val (good, bad) = PipelineQuery.pipeline.split(raw)
        def ts(df: org.apache.spark.sql.DataFrame): Seq[Option[Long]] =
          df.select(col("collector_tstamp_us")).collect()
            .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
        val out = (ts(good), ts(bad))
        ListenerBusDrain(sc)
        out
      } finally sc.removeSparkListener(listener)

    assert(failedTasks.get == 0, "no task may fail on malformed input")
    val ids = (goodTs ++ badTs).flatten.map(_ - BaseUs)
    assert(ids.sorted == (0L until n.toLong), "every event id lands in exactly one of good and bad")
    assert(goodTs.flatten.toSet.intersect(badTs.flatten.toSet).isEmpty)
    assert((goodTs ++ badTs).count(_.isEmpty) == broken.size,
      "every line without a timestamp lands exactly once too")
    assert(badTs.nonEmpty && goodTs.nonEmpty, "the sample must reach both sides")
  }

  test("overflowing tracker numbers become null columns: no task fails, each event lands once") {
    import spark.implicits._
    // under ANSI a long overflow aborts the job; each line below once did,
    // through the ms → µs multiplies, the _sp multiply, the currency
    // multiply or the derived-timestamp correction
    val cases = Seq(
      ("created", "1704067200000000", "dtm=99999999999999999"),
      ("sent", "1704067200000000", "stm=99999999999999999"),
      ("true", "1704067200000000", "ttm=99999999999999999"),
      ("sp", "1704067200000000", "_sp=abc.99999999999999999"),
      ("amount", "1704067200000000", "tr_tt=10000000000000000&tr_cu=EUR"),
      ("skew", "1704067200000000", "dtm=-9000000000000000&stm=9000000000000000"),
      ("collector", "-9000000000000000000", "dtm=0&stm=1000000000000000"),
      ("fits", "1704067200000000", "dtm=1704067199000&stm=1704067200000&_sp=abc.1704067100000" +
        "&tr_tt=12.5&tr_cu=EUR"))
    val lines = cases.map { case (id, ts, qs) =>
      Seq(ts, "94.15.223.151", s"ua-$id", "https://shop.example.com/", "pv", s"e=pv&p=web&$qs").mkString("\t")
    }
    val failedTasks = new AtomicInteger
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason != Success) failedTasks.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val (good, bad) =
      try {
        val raw = Protocol.fromCollector(Sources.parseCollectorTsv(lines.toDF("value")))
        val (g, b) = PipelineQuery.pipeline.split(raw)
        val cols = Seq("useragent", "created_us", "sent_us", "true_us", "refr_dvce_tstamp_us",
          "base_amount_e8", "derived_tstamp_us").map(col)
        val out = (g.select(cols: _*).collect(), b.select(cols: _*).collect())
        ListenerBusDrain(sc)
        out
      } finally sc.removeSparkListener(listener)

    assert(failedTasks.get == 0, "no task may fail on an overflowing number")
    val ids = (good ++ bad).map(_.getString(0).stripPrefix("ua-"))
    assert(ids.sorted.toSeq == cases.map(_._1).sorted, "every event lands in exactly one of good and bad")
    val byId = (good ++ bad).map(r => r.getString(0).stripPrefix("ua-") -> r).toMap
    def isNull(id: String, c: String) = byId(id).isNullAt(byId(id).fieldIndex(c))
    assert(isNull("created", "created_us") && isNull("sent", "sent_us") && isNull("true", "true_us"))
    assert(isNull("sp", "refr_dvce_tstamp_us") && isNull("amount", "base_amount_e8"))
    assert(isNull("skew", "derived_tstamp_us") && isNull("collector", "derived_tstamp_us"))
    val fits = byId("fits")
    assert(fits.getAs[Long]("derived_tstamp_us") == 1704067199000000L)
    assert(fits.getAs[Long]("refr_dvce_tstamp_us") == 1704067100000000L)
    assert(fits.getAs[Long]("base_amount_e8") == 1250L * 1080000L)
  }

  test("an IP ending in a line terminator the bigint cast keeps is a missed geo lookup, not a job abort") {
    import spark.implicits._
    // Java's `$` lets the dotted-quad pattern match before U+0085, U+2028
    // and U+2029, and an ANSI bigint cast of "151" + U+2028 fails: the
    // range-join geo lookup aborted the whole job on one such event
    val ips = Seq("94.15.223.151", "94.15.223.151\n", "94.15.223.151\u0085", "94.15.223.151\u2028",
      "94.15.223.151\u2029")
    val lines = ips.zipWithIndex.map { case (ip, i) =>
      Seq((BaseUs + i).toString, ip, "curl/8.0", "https://shop.example.com/", "pv", "e=pv&p=web").mkString("\t")
    }
    val raw = Protocol.fromCollector(Sources.parseCollectorTsv(lines.toDF("value")))
    val (good, bad) = PipelineQuery.pipeline.split(raw)
    val geo = (good.collect() ++ bad.collect()).map(r =>
      (r.getAs[Long]("collector_tstamp_us") - BaseUs) -> Option(r.getAs[String]("geo_country"))).toMap
    assert(geo.keySet == ips.indices.map(_.toLong).toSet, "every event lands once")
    assert(geo(0L).isDefined && geo(1L) == geo(0L), "a dotted quad and one trailing \\n both resolve")
    assert((2L to 4L).forall(i => geo(i).isEmpty), s"a kept terminator is a miss: $geo")
  }
}
