package graft

import org.apache.spark.sql.functions._

import graft.enrich.{EnrichmentConfig, Protocol}
import graft.queries.PipelineQuery
import graft.sources.Sources

/** The full application path: collector TSV line → loader → tracker
  * protocol transform → default enrichment pipeline → atomic columns +
  * good/bad split (what `graft.Main --mode batch` runs). */
class EndToEndSpec extends SparkSpec {

  private val qs = "e=pv&p=web&res=1920x1080&uid=alice&tv=js-3.0.0" +
    "&dtm=1704067100000&stm=1704067101000&ttm=" +
    "&url=https%3A%2F%2Fshop.example.com%2Fp%2F1%3Futm_source%3Dgoogle%26utm_medium%3Dcpc%26gclid%3Dg1" +
    "&refr=https%3A%2F%2Fwww.google.com%2Fsearch%3Fq%3Dwidget" +
    "&tr_tt=42.50&tr_cu=EUR&_sp=dom123.1700000000000"

  private def line(eventCode: String = "pv", qsOverride: String = qs) =
    Seq("1704067200000000", "94.15.223.151, 10.0.0.1", "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/119.0",
      "https://shop.example.com/p/1", eventCode, qsOverride).mkString("\t")

  test("collector line → enriched atomic event") {
    import spark.implicits._
    val raw = Protocol.fromCollector(Sources.parseCollectorTsv(Seq(line()).toDF("value")))
    val (good, bad) = PipelineQuery.pipeline.split(raw)
    assert(bad.count() == 0)
    val r = good.collect()(0)
    assert(r.getAs[String]("event") == "page_view")
    assert(r.getAs[String]("platform") == "web")
    assert(r.getAs[Int]("dvce_screenwidth") == 1920)
    assert(r.getAs[String]("user_ipaddress") == "94.15.x.x") // first XFF ip, anonymized
    assert(r.getAs[String]("page_urlhost") == "shop.example.com")
    assert(r.getAs[String]("mkt_source") == "google")
    assert(r.getAs[String]("mkt_network") == "Google")
    assert(r.getAs[String]("refr_medium") == "search")
    assert(r.getAs[String]("refr_source") == "Google")
    assert(r.getAs[String]("refr_term") == "widget")
    assert(r.getAs[String]("br_family") == "Firefox")
    assert(r.getAs[String]("geo_country") != null)
    // skew correction: collector 200s − (sent 101 − created 100)s = 199s
    assert(r.getAs[Long]("derived_tstamp_us") == 1704067199000000L)
    // EUR 42.50 → 4250 cents × 1.08 micro-rate
    assert(r.getAs[Long]("base_amount_e8") == 4250L * 1080000L)
    assert(r.getAs[String]("refr_domain_userid") == "dom123")
    // PII: uid hashed, not plaintext
    assert(r.getAs[String]("user_id") != "alice" && r.getAs[String]("user_id").length == 64)
  }

  test("bad rows: unknown event code lands in the bad channel with a reason") {
    import spark.implicits._
    val raw = Protocol.fromCollector(Sources.parseCollectorTsv(
      Seq(line(qsOverride = qs.replace("e=pv", "e=zz"))).toDF("value")))
    val (good, bad) = PipelineQuery.pipeline.split(raw)
    assert(good.count() == 0 && bad.count() == 1)
    val errs = bad.select(explode(graft.enrich.Enrichment.failureSummaries(col("bad_row_errors")))).collect().map(_.getString(0))
    assert(errs.exists(_.contains("unknown event code")))
  }

  test("graft.Main batch: good parquet + reference bad-row envelopes on the bad sink (r12)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("main-e2e")
    val in = dir.resolve("in").toString
    Seq(line(), line(qsOverride = qs.replace("e=pv", "e=zz")),
        line(qsOverride = qs.replace("uid=alice", "uid=bob")),
        line(qsOverride = qs.replace("p=web", "p=zz")))
      .toDF("value").coalesce(1).write.text(in)
    graft.Main.main(Array(
      "--mode", "batch", "--format", "collector-tsv",
      "--input", in,
      "--good", dir.resolve("good").toString,
      "--bad", dir.resolve("bad").toString))
    assert(spark.sparkContext.isStopped == false, "main must not stop a reused session")
    val good = spark.read.parquet(dir.resolve("good").toString)
    assert(good.count() == 2 && good.collect().forall(_.getAs[String]("event") == "page_view"))
    val bad = spark.read.text(dir.resolve("bad").toString).collect().map(_.getString(0))
    assert(bad.length == 2)
    assert(bad.forall(_.startsWith("""{"schema":"iglu:com.snowplowanalytics.snowplow.badrows/""")))
    assert(bad.exists(_.contains("unknown event code")))
    assert(bad.forall(_.contains(""""payload":{"collector_tstamp_us":1704067200000000""")),
      "the replay payload carries the raw collector columns")

    // the one-pass sinks equal the library's two-pass split and envelopes
    val raw = Protocol.fromCollector(Sources.collectorTsv(spark, in))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(to_json(struct(df.columns.map(col).toSeq: _*))).collect().map(_.getString(0)).sorted.toSeq
    assert(rows(good) == rows(PipelineQuery.pipeline.split(raw)._1))
    // envelopes differ only in the failure timestamp (the run's etl time)
    def noTs(envelope: String) = envelope.replaceAll("\"timestamp\":\"[^\"]*\"", "\"timestamp\":\"\"")
    val payload = Sources.CollectorTsvFields.map(_._1).filter(raw.columns.contains)
    val expectedBad = PipelineQuery.pipeline.badRowsJson(raw, payload, lit(0L))
      .select("bad_row").collect().map(r => noTs(r.getString(0))).sorted.toSeq
    assert(bad.map(noTs).sorted.toSeq == expectedBad)
    assert(good.count() + bad.length == raw.count(), "good + bad = raw")
  }

  test("config-driven pipeline from JSON") {
    import spark.implicits._
    val pipeline = EnrichmentConfig.fromJson(
      """{"enrichments": [
        |  {"name": "tracker_transform"},
        |  {"name": "anon_ip", "octets": 3},
        |  {"name": "ua_parser"},
        |  {"name": "event_fingerprint", "algorithm": "sha256", "params": ["event_code", "res"]}
        |]}""".stripMargin)
    val raw = Protocol.fromCollector(Sources.parseCollectorTsv(Seq(line()).toDF("value")))
    val r = pipeline.run(raw).collect()(0)
    assert(r.getAs[String]("user_ipaddress") == "94.x.x.x") // octets=3 from config
    assert(r.getAs[String]("br_family") == "Firefox")
    assert(r.getAs[String]("event_fingerprint").length == 64)
    // unknown enrichment name fails fast
    val err = intercept[IllegalArgumentException] {
      EnrichmentConfig.fromJson("""{"enrichments": [{"name": "nope"}]}""")
    }
    assert(err.getMessage.contains("unknown enrichment 'nope'"))
  }

  test("config-driven bot_detection folds iab + ua-class signals with reference param names") {
    import spark.implicits._
    val pipeline = EnrichmentConfig.fromJson(
      """{"enrichments": [
        |  {"name": "iab_bot_detection"},
        |  {"name": "bot_detection", "useYauaa": true, "useIab": true, "useAsnLookups": false}
        |]}""".stripMargin)
    val df = Seq(
      ("Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)", "1.2.3.4"),
      ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 Chrome/120.0 Safari/537.36", "1.2.3.5")
    ).toDF("ua", "user_ipaddress")
      .withColumn("dvce_type", graft.functions.UaF.deviceClass(org.apache.spark.sql.functions.col("ua")))
    val rows = pipeline.run(df).orderBy("user_ipaddress").collect()
    assert(rows(0).getAs[Boolean]("bot_detected"))
    assert(rows(0).getAs[String]("bot_indicators") == "[\"iab\",\"yauaa\"]")
    assert(!rows(1).getAs[Boolean]("bot_detected"))
    assert(rows(1).getAs[String]("bot_indicators") == "[]")
  }

  test("config-driven javascript_script: base64url script + params, bad script fails fast") {
    import spark.implicits._
    val script =
      """function process(event, params) {
        |  event.app_id = (event.app_id + params.suffix).toUpperCase()
        |}""".stripMargin
    val b64 = java.util.Base64.getUrlEncoder.encodeToString(
      script.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val pipeline = EnrichmentConfig.fromJson(
      s"""{"enrichments": [
         |  {"name": "javascript_script", "scriptB64": "$b64", "params": {"suffix": "-x"}}
         |]}""".stripMargin)
    val out = pipeline.run(Seq(("app1", 1L)).toDF("app_id", "v")).collect()(0)
    assert(out.getAs[String]("app_id") == "APP1-X")
    // compile errors surface at config-parse time (reference exitOnCompileError)
    intercept[IllegalArgumentException] {
      EnrichmentConfig.fromJson("""{"enrichments": [{"name": "javascript_script", "script": "]["}]}""")
    }
    // empty script rejected like the reference's parse
    val empty = intercept[IllegalArgumentException] {
      EnrichmentConfig.fromJson("""{"enrichments": [{"name": "javascript_script", "script": "  "}]}""")
    }
    assert(empty.getMessage.contains("empty"))
  }

  test("config-driven dimension joins: inline rates, geo ranges, dim_join rows") {
    import spark.implicits._
    val pipeline = EnrichmentConfig.fromJson(
      """{"enrichments": [
        |  {"name": "currency_conversion",
        |   "rates": [{"cur": "USD", "rateMicro": 1000000}, {"cur": "EUR", "rateMicro": 1080000}]},
        |  {"name": "ip_geo_lookup", "ipCol": "ip",
        |   "ranges": [{"lo": 0, "hi": 2147483647, "country": "US"},
        |              {"lo": 2147483648, "hi": 4294967295, "country": "CN"}]},
        |  {"name": "dim_join", "keyCol": "user_id", "dimKeyCol": "uid", "select": ["segment"],
        |   "rows": [{"uid": 7, "segment": "vip"}, {"uid": 8, "segment": "basic"}]}
        |]}""".stripMargin)
    val df = Seq(
      (7L, "EUR", 250L, "1.2.3.4"),
      (8L, "USD", 100L, "200.1.2.3"),
      (9L, "JPY", 100L, "10.0.0.1") // no rate, no dim row
    ).toDF("user_id", "currency", "amount_cents", "ip")
    val out = pipeline.run(df).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((Option(r.get(r.fieldIndex("base_amount_e8"))), r.getAs[String]("geo_country"),
          r.getAs[String]("segment")))).toMap
    assert(out(7L) == ((Some(250L * 1080000L), "US", "vip")))
    assert(out(8L) == ((Some(100L * 1000000L), "CN", "basic")))
    assert(out(9L) == ((None, "US", null))) // unknown currency → null amount
    // missing dims fail fast at parse time
    val e1 = intercept[IllegalArgumentException] {
      EnrichmentConfig.fromJson("""{"enrichments": [{"name": "currency_conversion"}]}""")
    }
    assert(e1.getMessage.contains("rates"))
  }

  test("config-driven IPv6 geo blocks (decimal-string low-64 bounds)") {
    import spark.implicits._
    val pipeline = EnrichmentConfig.fromJson(
      """{"enrichments": [
        |  {"name": "ip_geo_lookup", "ipCol": "ip",
        |   "ranges": [{"lo": 0, "hi": 4294967295, "country": "V4"}],
        |   "v6Ranges": [{"prefix": "2001:db8:1:2", "lo": "0",
        |                 "hi": "18446744073709551615", "country": "V6"}]}
        |]}""".stripMargin)
    val out = pipeline.run(Seq(
      ("1.2.3.4", 1L), ("2001:db8:1:2::5", 2L), ("junk", 3L)
    ).toDF("ip", "id")).orderBy("id").collect()
    assert(out.map(_.getAs[String]("geo_country")).toList == List("V4", "V6", null))
  }
}
