package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.storage.RDDInfo

/** `graft.Main --mode batch` with a good and a bad sink enriches each raw
  * event once: one stage reads the input files, and no stored copy of the
  * enriched rows outlives the run, also when a sink write fails. */
class MainOnePassSpec extends SparkSpec {

  private val qs = "e=pv&p=web&res=1920x1080&uid=alice&tv=js-3.0.0" +
    "&dtm=1704067100000&stm=1704067101000" +
    "&url=https%3A%2F%2Fshop.example.com%2Fp%2F1"

  private def line(eventCode: String) =
    Seq("1704067200000000", "94.15.223.151", "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/119.0",
      "https://shop.example.com/p/1", eventCode, qs.replace("e=pv", s"e=$eventCode")).mkString("\t")

  /** A collector TSV input of two files: three good events, one bad. */
  private def input(root: Path): String = {
    val in = root.resolve("in")
    Files.createDirectories(in)
    Files.write(in.resolve("a.tsv"), Seq(line("pv"), line("pv")).mkString("\n").getBytes("UTF-8"))
    Files.write(in.resolve("b.tsv"), Seq(line("pv"), line("zz")).mkString("\n").getBytes("UTF-8"))
    in.toString
  }

  private def mainBatch(in: String, good: String, bad: String): Unit =
    graft.Main.main(Array("--mode", "batch", "--format", "collector-tsv",
      "--input", in, "--good", good, "--bad", bad))

  /** Stages that read input files while `body` runs. A stage reads them
    * when its lineage reaches a FileScanRDD without passing an RDD that an
    * earlier stage persisted: a later stage reads that RDD's stored blocks,
    * not the files below it. */
  private def fileScanStages(body: => Unit): Int = {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Seq[RDDInfo]]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo.rddInfos)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc) } finally sc.removeSparkListener(listener)
    val persisted = mutable.Set.empty[Int]
    stages.asScala.count { infos =>
      val byId = infos.map(i => i.id -> i).toMap
      def scans(id: Int): Boolean = !persisted(id) && byId.get(id).exists(i =>
        i.name == "FileScanRDD" || i.parentIds.exists(scans))
      val hit = scans(infos.head.id)
      persisted ++= infos.filter(_.storageLevel.isValid).map(_.id)
      hit
    }
  }

  test("batch with both sinks: one stage scans the input, no persisted RDD outlives the run") {
    val root = Files.createTempDirectory("main_one_pass")
    val in = input(root)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val scans = fileScanStages(
      mainBatch(in, root.resolve("good").toString, root.resolve("bad").toString))
    assert(scans == 1, s"the enrichment chain must read the input once, not once per sink (got $scans)")
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(before))
    assert(spark.read.parquet(root.resolve("good").toString).count() == 3)
    assert(spark.read.text(root.resolve("bad").toString).count() == 1)
  }

  test("batch whose good sink write fails: the enriched rows are unpersisted anyway") {
    val root = Files.createTempDirectory("main_one_pass_fail")
    val in = input(root)
    val goodIsAFile = Files.write(root.resolve("good"), "not a directory".getBytes("UTF-8"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](mainBatch(in, goodIsAFile.toString, root.resolve("bad").toString))
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(before))
  }
}
