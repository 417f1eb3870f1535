package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{EnrichStream, Sessionizer}

class StreamingSpec extends SparkSpec {

  test("windowed counts over a memory stream with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts_us", "event_type", "value")
    val counts = EnrichStream.windowedCounts(df, "ts_us", "event_type", "1 hour", "10 minutes")
    val q = counts.writeStream.format("memory").queryName("wc").outputMode("update").start()
    try {
      val h0 = 1704067200000000L
      mem.addData((1L, h0 + 1000L, "click", 1.0), (2L, h0 + 2000L, "click", 2.0),
        (3L, h0 + 3600L * 1000000L + 5L, "view", 3.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_type, cnt FROM wc").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows("click") == 2L)
      assert(rows("view") == 1L)
    } finally q.stop()
  }

  test("stateful gap sessionization emits closed sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Sessionizer.SessionEvent]
    val gapUs = 30L * 60 * 1000000L
    val sessions = Sessionizer.sessionize(spark, mem.toDS(), gapUs)
    val q = sessions.writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      val t0 = 1704067200000000L
      // user 1: two events in one session, then a 2h gap, then another event
      mem.addData(
        Sessionizer.SessionEvent(1L, t0),
        Sessionizer.SessionEvent(1L, t0 + 60L * 1000000L),
        Sessionizer.SessionEvent(1L, t0 + 2L * 3600L * 1000000L))
      q.processAllAvailable()
      val closed = spark.sql("SELECT user_id, n_events FROM sess").collect()
      // the first session (2 events) must have been closed by the gap
      assert(closed.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    } finally q.stop()
  }

  test("stream-stream attribution join matches impressions within the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val impMem = MemoryStream[(Long, Long)]
    val convMem = MemoryStream[(Long, Long)]
    val t0 = 1704067200000000L
    val joined = graft.streaming.StreamAttribution.attribute(
      impMem.toDF().toDF("user_id", "ts_us"),
      convMem.toDF().toDF("user_id", "ts_us"),
      "ts_us", windowUs = 3600L * 1000000L)
    val q = joined.select("user_id", "ts_us", "imp_us")
      .writeStream.format("memory").queryName("attr").outputMode("append").start()
    try {
      impMem.addData((1L, t0), (2L, t0))                       // impressions
      convMem.addData((1L, t0 + 60L * 1000000L),               // conv 1 min later → match
                      (2L, t0 + 2L * 3600L * 1000000L),        // conv 2 h later → outside window
                      (3L, t0 + 1000L))                        // no impression
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id FROM attr").collect().map(_.getLong(0)).toList
      assert(rows == List(1L))
    } finally q.stop()
  }

  test("streaming dedup drops duplicate fingerprints within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val df = mem.toDF().toDF("doc_id", "text", "ts_us")
    val deduped = graft.streaming.StreamDedup.dedupDocsByFingerprint(df, "text", "ts_us")
    val q = deduped.writeStream.format("memory").queryName("dd").outputMode("append").start()
    try {
      val t0 = 1704067200000000L
      mem.addData((1L, "hello world", t0), (2L, "HELLO, world!", t0 + 1000L), (3L, "other doc", t0 + 2000L))
      q.processAllAvailable()
      // docs 1 and 2 normalize to the same fingerprint → one survives
      assert(spark.sql("SELECT count(*) FROM dd").collect()(0).getLong(0) == 2L)
    } finally q.stop()
  }

  test("corpus kernels run unchanged on a document stream") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the training-data kernels are Column programs too: a document stream
    // scrubs PII and computes quality gates with the exact batch code
    val mem = MemoryStream[(Long, String)]
    val gated = mem.toDF().toDF("doc_id", "text").select(
      col("doc_id"),
      graft.functions.TextF.scrubPii(col("text")).as("clean"),
      graft.functions.TextF.emailCount(col("text")).as("n_emails"),
      graft.functions.TextF.tokenCount(col("text")).as("n_tokens"),
      graft.functions.TextF.langGuess(col("text")).as("lang"),
      graft.functions.TextF.unicodeNormalize(col("text")).as("nfc"))
    val q = gated.writeStream.format("memory").queryName("docs").outputMode("append").start()
    try {
      mem.addData(
        (1L, "the cat is on the mat, email bob@example.com"),
        (2L, "zzz qqq"),
        (3L, "cafe\u0301")) // decomposed: e + U+0301
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM docs ORDER BY doc_id").collect()
      assert(rows(0).getAs[String]("clean").contains("<EMAIL>"))
      assert(rows(0).getAs[Int]("n_emails") == 1)
      assert(rows(0).getAs[String]("lang") == "en")
      assert(rows(1).getAs[String]("lang") == "und")
      assert(rows(2).getAs[String]("nfc") == "caf\u00e9") // composed U+00E9
    } finally q.stop()
  }

  test("the same pipeline object enriches a stream (no code fork)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Double, String)]
    val raw = graft.queries.Synth.withRaw(
      mem.toDF().toDF("event_id", "user_id", "event_type", "value", "props")
        .withColumn("ts_us", lit(1704067200000000L) + col("event_id") * 1000000L))
    val enriched = PipelineNoJoins.pipeline.run(raw)
    val q = enriched.select("event_id", "event", "platform", "br_family", "refr_medium",
        "dvce_type", "user_ipaddress")
      .writeStream.format("memory").queryName("enr").outputMode("append").start()
    try {
      mem.addData((0L, 1L, "click", 1.0, "{}"), (1L, 2L, "view", 2.0, "{}"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM enr ORDER BY event_id").collect()
      assert(rows.length == 2)
      // the codegen'd custom kernels (RefererLookupExpression,
      // DeviceClassExpression, AnonIpExpression) run inside the streaming
      // micro-batch projection: event 0's synth referer is a Google search
      assert(rows(0).getAs[String]("refr_medium") == "search")
      assert(rows(0).getAs[String]("dvce_type") != null)
      // event 0 is a v6-leading xff row (e%9==0) → the v6 masker's output
      assert(rows(0).getAs[String]("user_ipaddress") == "2001:db8:1:2:x:x:x:x")
      assert(rows(1).getAs[String]("user_ipaddress").endsWith(".x.x")) // anon v4
    } finally q.stop()
  }

  test("js_transform runs per micro-batch: same interpreter path as batch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // JsTransform is a stateless mapPartitions program, so the JS hatch
    // applies to a stream untouched — the compiled AST ships once, each
    // micro-batch partition reuses its interpreter
    val mem = MemoryStream[(Long, String)]
    val out = graft.js.JsTransform(
      "function process(event) { event.app_id = event.app_id.toUpperCase(); if (event.id % 2 == 1) { event.drop() } }")
      .apply(mem.toDF().toDF("id", "app_id"))
    val q = out.writeStream.format("memory").queryName("jss").outputMode("append").start()
    try {
      mem.addData((0L, "app-a"), (1L, "app-b"), (2L, "app-c"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, app_id, js_dropped FROM jss ORDER BY id").collect()
      assert(rows.length == 3)
      assert(rows(0).getAs[String]("app_id") == "APP-A" && !rows(0).getAs[Boolean]("js_dropped"))
      assert(rows(1).getAs[Boolean]("js_dropped"))
      assert(rows(2).getAs[String]("app_id") == "APP-C")
    } finally q.stop()
  }

  test("adapters + schema validation run unchanged on a stream") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // adapters are DataFrame => DataFrame column programs, so a webhook
    // stream adapts with the exact same code as batch — one Tp2 POST
    // carrying 2 events explodes to 2 streamed raw events
    val mem = MemoryStream[(Long, String, String)]
    val body = """{"schema":"iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4","data":[{"e":"pv","page":"h"},{"e":"se","se_ac":"c"}]}"""
    val adapted = graft.adapters.Tp2Adapter(
      mem.toDF().toDF("id", "body", "qs"), "body", "qs")
      .select(col("id"), col("event_idx"), element_at(col("params"), "e").as("e"),
        element_at(col("params"), "aid").as("aid"))
    val q = adapted.writeStream.format("memory").queryName("tp2s").outputMode("append").start()
    try {
      mem.addData((1L, body, "aid=app"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT e, aid FROM tp2s ORDER BY e").collect()
      assert(rows.map(_.getString(0)).toList == List("pv", "se"))
      assert(rows.forall(_.getString(1) == "app"))
    } finally q.stop()
  }
}

/** Join-free pipeline variant for the streaming smoke (stream-static joins
  * work too, but this keeps the test fast). */
object PipelineNoJoins {
  import graft.enrich._
  val pipeline: EnrichmentPipeline = EnrichmentPipeline(Seq(
    TrackerTransform(), DerivedTstamp(), PageUrlParse(), CampaignAttribution(),
    RefererParser(internalDomains = graft.queries.Queries2.InternalDomains),
    UaParser(), CrossNavigation(), AnonIp(),
    EventFingerprint("md5", Seq("event_code", "platform_code", "res"))
  ))
}
