package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** `graft.Main --mode stream --transport …` end-to-end: a reference-style
  * transport config resolves through TransportFactories, the framed lines
  * absorb redelivery, the collector TSV parses, the pipeline enriches, and
  * `--once` (Trigger.AvailableNow) drains and exits — the full migration
  * path a kinesis/nsq user runs, driven here over the NSQ file-dump bridge
  * (the one transport whose "connector" needs no external broker).
  */
class MainStreamSpec extends SparkSpec {

  private val qs = "e=pv&p=web&res=1920x1080&uid=alice&tv=js-3.0.0" +
    "&dtm=1704067100000&stm=1704067101000&ttm=" +
    "&url=https%3A%2F%2Fshop.example.com%2Fp%2F1" +
    "&refr=https%3A%2F%2Fwww.google.com%2Fsearch%3Fq%3Dwidget"

  // event code rides in the querystring (e=...), which wins over the TSV
  // field in Protocol.fromCollector
  private def collectorLine(eventCode: String, tsUs: Long = 1704067200000000L,
                            ip: String = "94.15.223.151") =
    Seq(tsUs.toString, ip, "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/119.0",
      "https://shop.example.com/p/1", eventCode,
      qs.replace("e=pv", s"e=$eventCode")).mkString("\t")

  test("stream mode over the nsq transport: framed dump -> enriched parquet, --once drains") {
    val root = Files.createTempDirectory("main_stream")
    val dump = root.resolve("dump").toString
    new java.io.File(dump).mkdirs()
    // framed lines: shard <TAB> seq <TAB> arrival_us <TAB> collector line.
    // seq 2 is delivered twice — absorbRedelivery must drop the replay.
    val framed = Seq(
      s"0\t1\t1704067200000000\t${collectorLine("pv")}",
      s"0\t2\t1704067201000000\t${collectorLine("pv")}",
      s"0\t2\t1704067201000000\t${collectorLine("pv")}",
      s"1\t1\t1704067202000000\t${collectorLine("zz")}") // bad event code
    Files.write(root.resolve("dump").resolve("part-000.txt"),
      framed.mkString("\n").getBytes("UTF-8"))
    val cfg = root.resolve("nsq.json")
    Files.write(cfg,
      s"""{"input": {"topic": "collector-payloads", "channel": "cp",
         |           "lookupHost": "127.0.0.1", "lookupPort": 4161,
         |           "dumpDir": "$dump"}}""".stripMargin.getBytes("UTF-8"))

    graft.Main.main(Array(
      "--mode", "stream",
      "--transport", "nsq", "--transport-config", cfg.toString,
      "--good", root.resolve("good").toString,
      "--bad", root.resolve("bad").toString,
      "--checkpoint", root.resolve("ck").toString,
      "--once"))

    val good = spark.read.parquet(root.resolve("good").toString)
    assert(good.count() == 2, "2 distinct good events (replayed seq 2 absorbed, zz is bad)")
    assert(good.collect().forall(_.getAs[String]("event") == "page_view"))
    val bad = spark.read.text(root.resolve("bad").toString).collect().map(_.getString(0))
    assert(bad.length == 1 && bad(0).contains("unknown event code"))
  }

  test("stream mode with --refresh-dims re-reads the enrichment config per batch") {
    val root = Files.createTempDirectory("main_refresh")
    val dump = root.resolve("dump").toString
    new java.io.File(dump).mkdirs()
    Files.write(root.resolve("dump").resolve("b1.txt"),
      s"0\t1\t1704067200000000\t${collectorLine("pv")}".getBytes("UTF-8"))
    val cfg = root.resolve("nsq.json")
    Files.write(cfg,
      s"""{"input": {"topic": "t", "channel": "c", "dumpDir": "$dump"}}""".getBytes("UTF-8"))
    // enrichment config v1: anonymize 2 octets
    val enr = root.resolve("enrich.json")
    Files.write(enr,
      """{"enrichments": [{"name": "tracker_transform"}, {"name": "anon_ip", "octets": 2}]}"""
        .getBytes("UTF-8"))
    // one query writes both sinks, so each micro-batch sees one config
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    def run() = {
      started.set(0)
      spark.streams.addListener(listener)
      try graft.Main.main(Array(
        "--mode", "stream",
        "--transport", "nsq", "--transport-config", cfg.toString,
        "--config", enr.toString,
        "--good", root.resolve("good").toString,
        "--bad", root.resolve("bad").toString,
        "--checkpoint", root.resolve("ck").toString,
        "--once", "--refresh-dims"))
      finally {
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        spark.streams.removeListener(listener)
      }
      assert(started.get == 1, s"one streaming query per run (got ${started.get})")
    }
    run()
    // config hot-swap: v2 anonymizes 3 octets; new data arrives, rerun
    // (same checkpoint — only the NEW file is processed, by the NEW config)
    Files.write(enr,
      """{"enrichments": [{"name": "tracker_transform"}, {"name": "anon_ip", "octets": 3}]}"""
        .getBytes("UTF-8"))
    Files.write(root.resolve("dump").resolve("b2.txt"),
      (s"0\t2\t1704067203000000\t${collectorLine("pv")}\n" +
       s"0\t3\t1704067204000000\t${collectorLine("zz")}").getBytes("UTF-8"))
    run()
    val ips = spark.read.parquet(root.resolve("good").toString)
      .select("user_ipaddress").collect().map(_.getString(0)).sorted
    assert(ips.toSeq == Seq("94.15.x.x", "94.x.x.x"),
      s"batch 1 under config v1, batch 2 under config v2 (got ${ips.mkString(", ")})")
    // the bad sink is written by the same per-batch pass as the good one
    val bad = spark.read.text(root.resolve("bad").toString).collect().map(_.getString(0))
    assert(bad.length == 1 && bad(0).contains("unknown event code"),
      s"bad envelope written through the refresh-dims foreachBatch path (got ${bad.length})")
    assert(ips.length + bad.length == 3, "good + bad = raw across the config swap")
  }

  test("--refresh-dims: a geo dim overwritten mid-stream is read by the next batch") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = Files.createTempDirectory("main_dim_swap")
    val in = root.resolve("in")
    Files.createDirectories(in)
    val dim = root.resolve("geo").toString
    val good = root.resolve("good").toString
    // 10.0.0.0/8 -> country, published by overwriting the dim path in place
    def publishDim(country: String): Unit =
      Seq((167772160L, 184549375L, country)).toDF("lo", "hi", "geo_country")
        .write.mode("overwrite").parquet(dim)
    val cfg = root.resolve("enrich.json")
    def writeConfig(anonOctets: Int): Unit = {
      val anon = if (anonOctets > 0) s""", {"name": "anon_ip", "octets": $anonOctets}""" else ""
      Files.write(cfg, s"""{"enrichments": [{"name": "ip_geo_lookup", "rangesPath": "$dim"}$anon]}"""
        .getBytes("UTF-8"))
    }
    // each file lands whole: written aside, then renamed into the input dir
    def drop(name: String, line: String): Unit = {
      val tmp = root.resolve(name)
      Files.write(tmp, line.getBytes("UTF-8"))
      Files.move(tmp, in.resolve(name), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    publishDim("SE")
    writeConfig(anonOctets = 0)

    val before = spark.streams.active.map(_.id).toSet
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val main = new Thread(() =>
      try graft.Main.main(Array(
        "--mode", "stream", "--format", "collector-tsv", "--input", in.toString,
        "--config", cfg.toString, "--good", good, "--bad", root.resolve("bad").toString,
        "--checkpoint", root.resolve("ck").toString, "--refresh-dims"))
      catch { case t: Throwable => failure.set(t) })
    main.setDaemon(true)
    main.start()
    def within[T](what: String)(probe: => Option[T]): T = {
      val deadline = System.nanoTime() + 120L * 1000000000L
      var found = Option.empty[T]
      while (found.isEmpty) {
        Option(failure.get).foreach(t => throw t)
        assert(System.nanoTime() < deadline, s"timed out waiting for $what")
        found = probe
        if (found.isEmpty) Thread.sleep(200)
      }
      found.get
    }
    val q = within("the stream query")(spark.streams.active.find(s => !before(s.id)))
    // (geo_country, user_ipaddress) of the good row with this collector timestamp
    def goodRow(tsUs: Long): (String, String) = within(s"event $tsUs in the good sink") {
      q.exception.foreach(e => throw e)
      // _SUCCESS marks the first committed batch: reading earlier finds no schema
      if (!Files.exists(java.nio.file.Paths.get(good, "_SUCCESS"))) None
      else spark.read.parquet(good)
        .filter(col("collector_tstamp_us") === tsUs)
        .select("geo_country", "user_ipaddress").as[(String, String)].collect().headOption
    }
    try {
      drop("b1.tsv", collectorLine("pv", tsUs = 1704067200000000L, ip = "10.1.2.3"))
      assert(goodRow(1704067200000000L) == ("SE", "10.1.2.3"), "event 1 reads dim v1")
      // hot swap while the query keeps running: the dim AND the config
      publishDim("NO")
      writeConfig(anonOctets = 1)
      drop("b2.tsv", collectorLine("pv", tsUs = 1704067201000000L, ip = "10.1.2.4"))
      assert(goodRow(1704067201000000L) == ("NO", "10.1.2.x"),
        "event 2 reads dim v2 and config v2 in the same query, with no restart")
    } finally {
      q.stop()
      main.join(60000)
    }
    assert(!main.isAlive, "Main returns once its stream query stops")
    Option(failure.get).foreach(t => throw t)
  }

  /** Runs a two-sink stream Main (no --once) on a thread and calls
    * `during` with the input dir and the run's active queries while it
    * runs. Asserts that Main then returns within two minutes and leaves
    * none of its queries active; returns what Main threw. */
  private def runMain(root: java.nio.file.Path, bad: java.nio.file.Path)(
      during: (java.nio.file.Path, () => Seq[StreamingQuery]) => Unit): Option[Throwable] = {
    val in = root.resolve("in")
    Files.createDirectories(in)
    Files.write(in.resolve("b1.tsv"),
      Seq(collectorLine("pv"), collectorLine("zz")).mkString("\n").getBytes("UTF-8"))
    val before = spark.streams.active.map(_.id).toSet
    def ours = spark.streams.active.toSeq.filterNot(q => before(q.id))
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val main = new Thread(() =>
      try graft.Main.main(Array(
        "--mode", "stream", "--format", "collector-tsv", "--input", in.toString,
        "--good", root.resolve("good").toString, "--bad", bad.toString,
        "--checkpoint", root.resolve("ck").toString))
      catch { case t: Throwable => failure.set(t) })
    main.setDaemon(true)
    main.start()
    try {
      during(in, () => ours)
      main.join(120000)
      assert(!main.isAlive, "Main returns")
      assert(ours.isEmpty, "no query of the run stays active")
      Option(failure.get)
    } finally ours.foreach(_.stop())
  }

  private def awaitFile(p: java.nio.file.Path): Unit = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!Files.exists(p)) {
      assert(System.nanoTime() < deadline, s"timed out waiting for $p")
      Thread.sleep(100)
    }
  }

  test("a bad sink that fails at start stops the good query, and Main throws") {
    val root = Files.createTempDirectory("main_bad_start")
    // the bad sink's path is a regular file
    val bad = Files.write(root.resolve("bad"), "not a directory".getBytes("UTF-8"))
    assert(runMain(root, bad)((_, _) => ()).isDefined, "Main rethrows the failed query's error")
  }

  test("a bad sink that fails mid-stream stops the good query, and Main throws") {
    val root = Files.createTempDirectory("main_bad_mid")
    val badLog = root.resolve("bad/_spark_metadata")
    val failure = runMain(root, root.resolve("bad")) { (in, _) =>
      awaitFile(badLog.resolve("0"))
      // the bad sink's log directory becomes a file: its next commit fails
      Files.walk(badLog).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      Files.write(badLog, "not a directory".getBytes("UTF-8"))
      Files.write(in.resolve("b2.tsv"), collectorLine("zz").getBytes("UTF-8"))
    }
    assert(failure.isDefined, "Main rethrows the failed query's error")
  }

  test("a two-sink stream Main whose queries are stopped returns cleanly") {
    val root = Files.createTempDirectory("main_stop")
    val failure = runMain(root, root.resolve("bad")) { (_, ours) =>
      Seq("good", "bad").foreach(s => awaitFile(root.resolve(s"$s/_spark_metadata/0")))
      assert(ours().size == 2)
      ours().foreach(_.stop())
    }
    assert(failure.isEmpty, s"Main threw $failure")
  }

  test("source guard: one foreachBatch stream path, no second reader or split layout") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    def hits(p: String) = files.flatMap { f =>
      p.r.findAllIn(Files.readString(f)).map(_ => f.getFileName.toString)
    }
    assert(hits("""\.foreachBatch\b""") == Seq("Main.scala"),
      "per-batch stream writes go through Main --refresh-dims")
    assert(hits("""\b(?:extends|with)\s+TableProvider\b""").isEmpty,
      "collector TSV is read through Sources.collectorTsv")
    assert(hits("""partitionBy\(\s*"is_bad"""").isEmpty,
      "good and bad rows go to two sinks through EnrichmentPipeline.withSplit")
  }

  test("kinesis transport over an archive replay: lossless seq_str dedup absorbs a planted redelivery") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    val root = Files.createTempDirectory("main_kinesis")
    val archive = root.resolve("archive").toString
    val schema = StructType.fromDDL(
      "shardId STRING, sequenceNumber STRING, approximateArrivalTimestamp TIMESTAMP, data BINARY")
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val line = collectorLine("pv").getBytes("UTF-8")
    // seq 2 carries a KPL-style sub-sequence suffix: its last-18-digit
    // numeric fold does NOT cast to long (seq_no is null), so only the
    // full-fidelity (shardId, sequenceNumber) identity can absorb the
    // planted duplicate delivery — the exact case the framedness gate on
    // seq_str protects
    val base = "4959033827149025660855969253836157109592157598913658889"
    val rows = Seq(
      Row("shardId-000000000001", base + "1", ts(1704067200000000L), line),
      Row("shardId-000000000001", base + "2-000000001", ts(1704067201000000L), line),
      Row("shardId-000000000001", base + "2-000000001", ts(1704067201000000L), line), // redelivery
      Row("shardId-000000000002", base + "3", ts(1704067202000000L), line))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(archive)
    val cfg = root.resolve("kinesis.json")
    Files.write(cfg,
      s"""{"input": {"streamName": "collector-payloads", "region": "eu-central-1",
         |           "archiveDir": "$archive"}}""".stripMargin.getBytes("UTF-8"))
    graft.Main.main(Array(
      "--mode", "stream",
      "--transport", "kinesis", "--transport-config", cfg.toString,
      "--good", root.resolve("good").toString,
      "--checkpoint", root.resolve("ck").toString,
      "--once"))
    val good = spark.read.parquet(root.resolve("good").toString)
    assert(good.count() == 3,
      "3 distinct records: the null-seq_no redelivery must be absorbed via seq_str")
    assert(good.collect().forall(_.getAs[String]("event") == "page_view"))
  }

  test("pubsub transport over an archive replay: (partition, offset) dedup absorbs a redelivery") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    val root = Files.createTempDirectory("main_pubsub")
    val archive = root.resolve("archive").toString
    val schema = StructType.fromDDL(
      "partition BIGINT, offset BIGINT, publish_timestamp TIMESTAMP, data BINARY")
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val line = collectorLine("pv").getBytes("UTF-8")
    val rows = Seq(
      Row(0L, 1L, ts(1704067200000000L), line),
      Row(0L, 2L, ts(1704067201000000L), line),
      Row(0L, 2L, ts(1704067201000000L), line), // redelivery
      Row(1L, 1L, ts(1704067202000000L), line))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(archive)
    val cfg = root.resolve("pubsub.json")
    Files.write(cfg,
      s"""{"input": {"subscription": "projects/p1/subscriptions/collector",
         |           "archiveDir": "$archive"}}""".stripMargin.getBytes("UTF-8"))
    graft.Main.main(Array(
      "--mode", "stream",
      "--transport", "pubsub", "--transport-config", cfg.toString,
      "--good", root.resolve("good").toString,
      "--checkpoint", root.resolve("ck").toString,
      "--once"))
    val good = spark.read.parquet(root.resolve("good").toString)
    assert(good.count() == 3, "3 distinct records after (partition, offset) dedup")
  }
}
