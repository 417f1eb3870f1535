package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger

import graft.enrich.Protocol
import graft.sources.Sources

/** Local I/O through `graft.io`'s filesystem, which [[GraftSession]]
  * installs: Main's writes and stream checkpoint commits start no process,
  * and a checkpoint written under Hadoop's own local filesystem resumes
  * under graft's with the same on-disk layout. */
class LocalIoSpec extends SparkSpec {

  private val qs = "e=pv&p=web&res=1920x1080&uid=alice&tv=js-3.0.0" +
    "&dtm=1704067100000&stm=1704067101000&url=https%3A%2F%2Fshop.example.com%2Fp%2F1"

  /** `n` collector lines, every third with an unknown event code (a bad
    * row); event `i` carries collector timestamp `base + i`. */
  private def lines(base: Long, n: Int): Seq[String] = (0 until n).map { i =>
    val code = if (i % 3 == 2) "zz" else "pv"
    Seq((base + i).toString, "94.15.223.151", "Mozilla/5.0 (X11; Linux x86_64) Firefox/119.0",
      "https://shop.example.com/p/1", code, qs.replace("e=pv", s"e=$code")).mkString("\t")
  }

  private def write(dir: Path, name: String, ls: Seq[String]): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(name), ls.mkString("\n").getBytes("UTF-8"))
  }

  private def streamOnce(in: Path, out: Path): Array[String] =
    Array("--mode", "stream", "--format", "collector-tsv", "--input", in.toString,
      "--good", out.resolve("good").toString, "--bad", out.resolve("bad").toString,
      "--checkpoint", out.resolve("ck").toString, "--once")

  /** Good collector timestamps and the bad-row count under `out`. */
  private def landed(out: Path): (Seq[Long], Long) =
    (spark.read.parquet(out.resolve("good").toString).select("collector_tstamp_us")
      .collect().map(_.getLong(0)).toSeq.sorted,
      spark.read.text(out.resolve("bad").toString).count())

  test("a batch and a --once stream Main run start no process from Hadoop") {
    val root = Files.createTempDirectory("local_io_fork")
    write(root.resolve("in"), "part-0.tsv", lines(1704067200000000L, 9))
    spark // the session exists before the recording starts
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      Main.main(Array("--mode", "batch", "--format", "collector-tsv",
        "--input", root.resolve("in").toString, "--good", root.resolve("batch/good").toString,
        "--bad", root.resolve("batch/bad").toString))
      Main.main(streamOnce(root.resolve("in"), root.resolve("stream")))
    } finally rec.stop()
    val dump = root.resolve("rec.jfr")
    rec.dump(dump)
    rec.close()
    val fromHadoop = RecordingFile.readAllEvents(dump).asScala.filter { e =>
      Option(e.getStackTrace).exists(_.getFrames.asScala
        .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop")))
    }.map(_.getString("command"))
    assert(fromHadoop.isEmpty, s"${fromHadoop.size} process starts from Hadoop")
    // both runs did their work: 6 good and 3 bad events each
    Seq("batch", "stream").foreach { run =>
      val (good, bad) = landed(root.resolve(run))
      assert((good.size, bad) == (6, 3), run)
    }
  }

  test("a checkpoint written under Hadoop's local filesystem resumes under graft's, exactly once") {
    val root = Files.createTempDirectory("local_io_upgrade")
    val in = root.resolve("in")
    write(in, "part-0.tsv", lines(1704067200000000L, 9))
    val keys = Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl")
    /** Main's two sink queries, drained with Trigger.AvailableNow, under the
      * given `fs.file.impl` and `fs.AbstractFileSystem.file.impl`. Main
      * cannot run under Hadoop's classes: it installs graft's. */
    def drain(out: Path, classes: Seq[String]): Unit = {
      val saved = keys.map(spark.conf.getOption)
      keys.zip(classes).foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val raw = Protocol.fromCollector(Sources.collectorTsvStream(spark, in.toString))
        val pipeline = graft.queries.PipelineQuery.pipeline
        val payload = Sources.CollectorTsvFields.map(_._1).filter(raw.columns.contains)
        val good = pipeline.split(raw)._1.writeStream.format("parquet")
          .option("path", out.resolve("good").toString)
          .option("checkpointLocation", out.resolve("ck/good").toString)
        val bad = pipeline.badRowsJson(raw, payload, lit(0L)).select(col("bad_row")).writeStream
          .format("text").option("path", out.resolve("bad").toString)
          .option("checkpointLocation", out.resolve("ck/bad").toString)
        Seq(good, bad).map(_.trigger(Trigger.AvailableNow()).start()).foreach(_.awaitTermination())
      } finally keys.zip(saved).foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val hadoop = root.resolve("hadoop")
    drain(hadoop, Seq(classOf[org.apache.hadoop.fs.LocalFileSystem].getName,
      classOf[org.apache.hadoop.fs.local.LocalFs].getName))
    val graftSide = root.resolve("graft")
    drain(graftSide, Seq(classOf[io.NoForkLocalFileSystem].getName, classOf[io.NoForkLocalFs].getName))

    // the same files, .crc files included; part files differ only by their UUIDs
    def layout(out: Path): Seq[String] =
      Files.walk(out).iterator().asScala.filter(Files.isRegularFile(_)).map(p => out.relativize(p)
        .toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>")).toSeq.sorted
    assert(layout(graftSide) == layout(hadoop))
    assert(layout(hadoop).exists(_.endsWith(".crc")), layout(hadoop))

    // resume the Hadoop-written checkpoint through Main, over one new file
    write(in, "part-1.tsv", lines(1704067300000000L, 6))
    Main.main(streamOnce(in, hadoop))
    val (good, bad) = landed(hadoop)
    val expected = (lines(1704067200000000L, 9) ++ lines(1704067300000000L, 6))
      .map(_.split("\t")).filter(_(4) == "pv").map(_(0).toLong).sorted
    assert(good == expected, "each good event exactly once")
    assert(good.size + bad == 15, "good + bad = raw")
    Seq("good", "bad").foreach { q =>
      assert(Files.exists(hadoop.resolve(s"ck/$q/commits/1")), s"$q resumed at batch 1")
      assert(!Files.exists(hadoop.resolve(s"ck/$q/commits/2")), s"$q replayed no batch")
    }
  }
}
