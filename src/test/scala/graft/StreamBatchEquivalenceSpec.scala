package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.TextF

/** The pipeline's core promise (the reference guarantees it across its
  * kinesis/pubsub/fs apps): a stream processed to completion produces the
  * SAME corpus as the batch program on the same input. This spec feeds the
  * real sf0.001 documents table — with planted cross-chunk duplicates —
  * through StreamDedup in three micro-batches and compares against the
  * batch dedup twin:
  *  - the surviving fingerprint SET is identical (same kept content),
  *  - exactly one survivor per fingerprint (the per-key guarantee),
  *  - non-duplicate documents survive on both sides bit-identically.
  */
class StreamBatchEquivalenceSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("StreamDedup over three micro-batches == batch dedup on the same corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the corpus, with planted duplicates: every doc_id % 7 == 3 document
    // carries the same boilerplate text, so duplicates SPAN micro-batches
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 3, lit("PLANTED SHARED BOILERPLATE PAGE"))
          .otherwise(col("text")).as("text"))
      .withColumn("ts_us", lit(1704067200000000L) + col("doc_id") * 1000L)

    val rows = base.select("doc_id", "text", "ts_us")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(rows.length >= 300)

    // batch twin: one survivor per normalized-text fingerprint
    val batchFps = base
      .select(TextF.docFingerprint(col("text")).as("fp"))
      .distinct().as[String].collect().toSet

    val mem = MemoryStream[(Long, String, Long)]
    val deduped = graft.streaming.StreamDedup.dedupDocsByFingerprint(
      mem.toDF().toDF("doc_id", "text", "ts_us"), "text", "ts_us",
      watermarkDelay = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("sbe")
      .outputMode("append").start()
    try {
      rows.grouped((rows.length + 2) / 3).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable() // commit each micro-batch before the next
      }
      val stream = spark.sql("SELECT doc_id, text FROM sbe")
        .select(col("doc_id"), col("text"), TextF.docFingerprint(col("text")).as("fp"))
        .as[(Long, String, String)].collect()

      // same kept content, exactly once per key
      assert(stream.map(_._3).toSet == batchFps, "surviving fingerprint sets differ")
      assert(stream.length == batchFps.size, "a fingerprint survived more than once")

      // non-duplicate documents must come through bit-identical to batch
      val nonDup = rows.filter(_._1 % 7 != 3).map(r => r._1 -> r._2).toMap
      val streamById = stream.map(r => r._1 -> r._2).toMap
      nonDup.foreach { case (id, text) =>
        assert(streamById.get(id).contains(text), s"doc $id mutated or lost in flight")
      }
    } finally q.stop()
  }

  test("EnrichStream over three micro-batches == batch pipeline on the same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the real sf0.001 events, streamed in three chunks through the SAME
    // EnrichmentPipeline instance the batch side runs — the reference's
    // actual core promise (its kinesis/pubsub/fs apps wrap one enrichEvent)
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        col("props"), col("ts_us"))
      .as[(Long, Long, String, Double, String, Long)].collect().sortBy(_._1)
    assert(ev.length >= 1000)

    val pipeline = graft.queries.PipelineQuery.pipeline
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.sorted.toIndexedSeq
      df.select(cols.map(col): _*).collect().map(_.toString).toIndexedSeq.sorted
    }

    val batchOut = pipeline.run(
      graft.queries.Synth.withRaw(ev.toSeq.toDF("event_id", "user_id", "event_type", "value", "props", "ts_us")))

    val mem = MemoryStream[(Long, Long, String, Double, String, Long)]
    val enriched = pipeline.run(graft.queries.Synth.withRaw(
      mem.toDF().toDF("event_id", "user_id", "event_type", "value", "props", "ts_us")))
    val q = enriched.writeStream.format("memory").queryName("sbe_enrich")
      .outputMode("append").start()
    try {
      ev.grouped((ev.length + 2) / 3).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val streamOut = spark.sql("SELECT * FROM sbe_enrich")
      assert(streamOut.columns.sorted.toSeq == batchOut.columns.sorted.toSeq,
        "stream and batch enriched schemas differ")
      val (s, b) = (canon(streamOut), canon(batchOut))
      assert(s.length == b.length, s"row counts differ: stream=${s.length} batch=${b.length}")
      s.zip(b).zipWithIndex.foreach { case ((sr, br), i) =>
        assert(sr == br, s"enriched row $i differs:\n stream=$sr\n batch =$br")
      }
    } finally q.stop()
  }

  test("EnrichStream.badRows over micro-batches == batch badRowsJson envelopes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // planted unknown event codes; the bad stream must serialize the SAME
    // envelopes (exact bytes) whether the corpus arrives in one batch or
    // three micro-batches
    val rows = (1L to 300L).map(i => (i, if (i % 7 == 1) "zz" else "pv"))
    val pipeline = graft.enrich.EnrichmentPipeline(Seq(graft.enrich.TrackerTransform()))
    def prep(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("platform_code", lit("web"))
      .withColumn("res", lit("800x600"))
      .withColumn("xff", lit(null).cast("string"))
    val etl = lit(1700000000000000L)

    val batchOut = pipeline
      .badRowsJson(prep(rows.toDF("id", "event_code")), Seq("id", "event_code"), etl)
      .select("id", "bad_row").collect().map(_.toString).sorted.toSeq

    val mem = MemoryStream[(Long, String)]
    val bad = pipeline.badRowsJson(
      prep(mem.toDF().toDF("id", "event_code")), Seq("id", "event_code"), etl)
      .select("id", "bad_row")
    val q = bad.writeStream.format("memory").queryName("sbe_badrows")
      .outputMode("append").start()
    try {
      rows.grouped(100).foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      val streamOut = spark.sql("SELECT * FROM sbe_badrows")
        .collect().map(_.toString).sorted.toSeq
      assert(streamOut == batchOut, "streaming bad-row envelopes must match batch byte-for-byte")
      assert(batchOut.nonEmpty && batchOut.head.contains("enrichment_failures"))
    } finally q.stop()
  }

  test("StreamDedup on events == batch dropDuplicates on the same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // planted id collisions: user_id repeats across the stream; dedup on
    // (user_id, event_type) must keep exactly the batch-distinct key set
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
      .as[(Long, Long, String, Long)].collect().sortBy(_._1).take(2000)

    val batchKeys = ev.map(r => (r._2, r._3)).toSet

    // batch equivalence requires the watermark to cover the corpus time
    // span — a shorter delay legitimately re-admits a key after eviction
    // (the bounded-state contract, not a bug)
    val mem = MemoryStream[(Long, Long, String, Long)]
    val deduped = graft.streaming.StreamDedup.dedupEvents(
      mem.toDF().toDF("event_id", "user_id", "event_type", "ts_us"),
      "ts_us", Seq("user_id", "event_type"), watermarkDelay = "3650 days")
    val q = deduped.writeStream.format("memory").queryName("sbe_ev")
      .outputMode("append").start()
    try {
      ev.grouped(700).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val stream = spark.sql("SELECT user_id, event_type FROM sbe_ev")
        .as[(Long, String)].collect()
      assert(stream.toSet == batchKeys, "surviving key sets differ")
      assert(stream.length == batchKeys.size, "a key survived more than once")
    } finally q.stop()
  }

  test("StreamAttribution over three micro-batches == the batch join on the same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val windowUs = 3600L * 1000000L
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_us"))
      .as[(Long, String, Long)].collect().sortBy(_._3) // event-time order
    def side(t: String) = ev.filter(_._2 == t).map(r => (r._1, r._3))
    val clicks = side("click")
    val purchases = side("purchase")

    // batch twin: attribute() is DataFrame => DataFrame, so the SAME code
    // runs in batch (withWatermark is a no-op there)
    val batch = graft.streaming.StreamAttribution.attribute(
        clicks.toSeq.toDF("user_id", "ts_us"),
        purchases.toSeq.toDF("user_id", "ts_us"),
        "ts_us", windowUs)
      .select(col("user_id"), col("ts_us"), col("imp_us"))
      .as[(Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty, "the corpus must produce in-window matches")

    val impMem = MemoryStream[(Long, Long)]
    val convMem = MemoryStream[(Long, Long)]
    val joined = graft.streaming.StreamAttribution.attribute(
      impMem.toDF().toDF("user_id", "ts_us"),
      convMem.toDF().toDF("user_id", "ts_us"),
      "ts_us", windowUs, watermarkDelay = "2 hours")
    val q = joined.select(col("user_id"), col("ts_us"), col("imp_us"))
      .writeStream.format("memory").queryName("sbe_attr")
      .outputMode("append").start()
    try {
      // cut the shared timeline THROUGH a known match (impression before
      // the cut, conversion after) so at least one pair spans a micro-batch
      // boundary; both sides advance their watermark together
      val splittable = batch.filter { case (_, convUs, impUs) => impUs < convUs }
      assert(splittable.nonEmpty, "need a non-simultaneous match to bisect")
      val (_, cv, iu) = splittable.maxBy { case (_, c, i) => c - i }
      val cuts = Seq(iu + (cv - iu) / 2, Long.MaxValue)
      var lo = Long.MinValue
      cuts.foreach { hi =>
        impMem.addData(clicks.filter(c => c._2 > lo && c._2 <= hi).toIndexedSeq)
        convMem.addData(purchases.filter(c => c._2 > lo && c._2 <= hi).toIndexedSeq)
        q.processAllAvailable()
        lo = hi
      }
      val stream = spark.sql("SELECT user_id, ts_us, imp_us FROM sbe_attr")
        .as[(Long, Long, Long)].collect().toSet
      assert(stream == batch,
        s"missing=${(batch -- stream).take(5)} extra=${(stream -- batch).take(5)}")
      // the test must actually exercise the boundary: some match pairs a
      // conversion with an impression from an EARLIER micro-batch
      val crossChunk = batch.exists { case (_, convUs, impUs) =>
        cuts.exists(c => impUs <= c && convUs > c)
      }
      assert(crossChunk, "no match spans a micro-batch boundary — weaken the cuts")
    } finally q.stop()
  }

  test("MetadataStream rollup over micro-batches == the batch metadata_report shape") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._

    // deterministic metadata columns over the events table, hour windows
    val e = col("event_id")
    val base = Tables.events(spark, dir).select(
      e,
      col("ts_us"),
      concat(lit("iglu:com.acme/ev"), (e % 3).cast("string"), lit("/jsonschema/1-0-0")).as("event_schema"),
      concat(lit("app-"), (e % 2).cast("string")).as("source"),
      lit("js-3.1").as("tracker"),
      (when(e % 2 === 0, "web").otherwise("mob")).as("platform"),
      lit("none").as("scenario_id"),
      array_compact(array(lit("wp"), when(e % 2 === 0, lit("geo")))).as("entities"))

    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window(timestamp_micros(col("ts_us")), "1 hour"),
        col("event_schema"), col("source"), col("tracker"), col("platform"), col("scenario_id"))
      .agg(count(lit(1)).as("n_events"),
        array_sort(array_distinct(flatten(collect_list(col("entities"))))).as("entities"))
      .select(col("window.start").cast("long").as("period_start"),
        col("event_schema"), col("source"), col("platform"),
        col("n_events"), array_join(col("entities"), ",").as("ent"))
    val batch = agg(base).as[(Long, String, String, String, Long, String)].collect().toSet

    val rows = base
      .select("event_id", "ts_us", "event_schema", "source", "tracker", "platform", "scenario_id", "entities")
      .as[(Long, Long, String, String, String, String, String, Seq[String])]
      .collect().sortBy(_._2) // event-time order, so the watermark only advances
    val mem = MemoryStream[(Long, Long, String, String, String, String, String, Seq[String])]
    val rolled = graft.streaming.MetadataStream.rollup(
      mem.toDF().toDF("event_id", "ts_us", "event_schema", "source", "tracker", "platform", "scenario_id", "entities"),
      "ts_us", windowLength = "1 hour", watermarkDelay = "0 seconds")
    val q = rolled.writeStream.format("memory").queryName("meta_rollup")
      .outputMode("append").start()
    try {
      rows.grouped((rows.length + 2) / 3).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      // close the final windows: one far-future heartbeat advances the
      // watermark past every real event's window end
      val last = rows.last
      mem.addData(Seq(last.copy(_2 = last._2 + 365L * 86400L * 1000000L)))
      q.processAllAvailable()
      val stream = spark.sql(
        """SELECT CAST(period_start AS LONG), event_schema, source, platform,
          |       n_events, array_join(entities, ',') FROM meta_rollup""".stripMargin)
        .as[(Long, String, String, String, Long, String)].collect().toSet
      // every REAL window matches batch exactly; the heartbeat's own window
      // may not have flushed (nothing advances the watermark past it)
      val heartbeatStart = (last._2 + 365L * 86400L * 1000000L) / 3600000000L * 3600L
      val realStream = stream.filterNot(_._1 == heartbeatStart)
      val realBatch = batch // batch never saw the heartbeat
      assert(realStream == realBatch,
        s"missing=${(realBatch -- realStream).take(3)} extra=${(realStream -- realBatch).take(3)}")
    } finally q.stop()
  }

  test("flagship withSplit in foreachBatch == batch withSplit: both sinks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the FULL flagship chain (PipelineQuery.pipeline) at sf0.001, written
    // to good parquet + bad envelope text through withSplit the way
    // Main.writeSinks does, once as a batch and once per micro-batch inside
    // foreachBatch (Main --refresh-dims) over the same rows in three
    // micro-batches — the reference's core promise extended to both sinks
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        col("props"), col("ts_us"))
      .as[(Long, Long, String, Double, String, Long)].collect().sortBy(_._1)
    val pipeline = graft.queries.PipelineQuery.pipeline
    val etl = lit(1700000000000000L)
    val payload = struct(col("event_id"), col("event_type"))
    val root = java.nio.file.Files.createTempDirectory("split_equiv")
    def writeSinks(side: String)(raw: org.apache.spark.sql.DataFrame): Unit =
      pipeline.withSplit(raw) { (good, bad) =>
        good.write.mode("append").parquet(root.resolve(s"$side/good").toString)
        bad.select(graft.enrich.BadRows.badRowJson(col("bad_row_errors"), payload, etl).as("bad_row"))
          .write.mode("append").text(root.resolve(s"$side/bad").toString)
      }
    val cols = Seq("event_id", "user_id", "event_type", "value", "props", "ts_us")

    writeSinks("batch")(graft.queries.Synth.withRaw(ev.toSeq.toDF(cols: _*)))

    val mem = MemoryStream[(Long, Long, String, Double, String, Long)]
    val q = graft.queries.Synth.withRaw(mem.toDF().toDF(cols: _*)).writeStream
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, _: Long) => writeSinks("stream")(batch))
      .option("checkpointLocation", root.resolve("ck").toString)
      .start()
    try {
      ev.grouped((ev.length + 2) / 3).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()

    def good(side: String): IndexedSeq[String] = {
      val df = spark.read.parquet(root.resolve(s"$side/good").toString)
      df.select(df.columns.sorted.toIndexedSeq.map(col): _*)
        .collect().map(_.toString).toIndexedSeq.sorted
    }
    def bad(side: String): IndexedSeq[String] =
      spark.read.text(root.resolve(s"$side/bad").toString)
        .collect().map(_.getString(0)).toIndexedSeq.sorted
    val (bGood, bBad, sGood, sBad) = (good("batch"), bad("batch"), good("stream"), bad("stream"))
    assert(bGood.nonEmpty && bBad.nonEmpty,
      s"flagship synth must exercise both sides (good=${bGood.length} bad=${bBad.length})")
    assert(sGood.length == bGood.length && sBad.length == bBad.length,
      s"split sizes differ: stream=(${sGood.length},${sBad.length}) batch=(${bGood.length},${bBad.length})")
    sGood.zip(bGood).zipWithIndex.foreach { case ((sr, br), i) =>
      assert(sr == br, s"good row $i differs:\n stream=$sr\n batch =$br")
    }
    sBad.zip(bBad).zipWithIndex.foreach { case ((sr, br), i) =>
      assert(sr == br, s"bad envelope $i differs:\n stream=$sr\n batch =$br")
    }
    // good + bad = raw: every event id lands in exactly one sink
    for (side <- Seq("batch", "stream")) {
      val goodIds = spark.read.parquet(root.resolve(s"$side/good").toString)
        .select(col("event_id").cast("string")).as[String].collect().toSeq
      val badIds = spark.read.text(root.resolve(s"$side/bad").toString)
        .select(get_json_object(col("value"), "$.data.payload.event_id")).as[String].collect().toSeq
      assert((goodIds ++ badIds).sorted == ev.map(_._1.toString).toSeq.sorted,
        s"$side: good + bad != raw")
    }
  }
}
