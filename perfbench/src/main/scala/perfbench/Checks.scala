package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks of one run of the app against what the generator recorded.
  * `problems` counts events per kind of violation; `failed` counts each
  * event with any violation once (output rows of ids never generated
  * count too). A canary digest other than the recorded one fails every
  * canary event with a good row. */
final case class CheckResult(problems: Map[String, Long], failed: Long, canaryDigest: String,
  canaryRows: Long)

object Checks {
  /** Columns compared with the generator's expectation on good rows. */
  private val Checked = Seq("event", "platform", "dvce_screenwidth", "dvce_screenheight",
    "page_urlhost", "page_urlpath", "mkt_source", "mkt_medium", "mkt_campaign",
    "derived_tstamp_us", "user_ipaddress")

  private def expectedValues(e: Expect): Seq[Option[Any]] = Seq(e.event, e.platform,
    e.dvce_screenwidth, e.dvce_screenheight, e.page_urlhost, e.page_urlpath, e.mkt_source,
    e.mkt_medium, e.mkt_campaign, e.derived_tstamp_us, e.user_ipaddress)

  private val IdInPayload = "\"collector_tstamp_us\":(-?\\d+)".r

  /** Good rows are read back with Spark (the checked columns plus a hash of
    * every column); bad envelopes are read as text. The canary digest is
    * the sum of the row hashes of the canary events' good rows, every
    * column but the wall-clock ones. */
  def run(spark: SparkSession, expected: Map[Long, Expect], good: Path, bad: Path,
    canary: Long => Boolean, wallClockCols: Seq[String], recorded: Option[String]): CheckResult = {
    val goodDf = spark.read.parquet(good.toString)
    val hashed = goodDf.columns.filterNot(wallClockCols.contains).sorted.toSeq
    val rows: Array[Row] = goodDf
      .select(col("collector_tstamp_us") +: Checked.map(col) :+ xxhash64(hashed.map(col): _*): _*)
      .collect()
    val badFiles =
      if (!Files.exists(bad)) Nil
      else Using.resource(Files.list(bad))(_.iterator().asScala.toList)
        .filter(_.getFileName.toString.startsWith("part-"))
    val badIds = badFiles.flatMap(p => Files.readAllLines(p, UTF_8).asScala)
      .map(l => IdInPayload.findFirstMatchIn(l).map(_.group(1).toLong).getOrElse(Long.MinValue) -> l)

    val seen = mutable.Map.empty[Long, Int].withDefaultValue(0)
    val flagged = mutable.Map.empty[String, mutable.Set[Long]]
    def flag(kind: String, id: Long): Unit = flagged.getOrElseUpdate(kind, mutable.Set.empty) += id
    var digest = BigInt(0)
    val canaryIds = mutable.ArrayBuffer.empty[Long]
    rows.foreach { r =>
      val id = r.getLong(0)
      seen(id) += 1
      if (canary(id)) { digest += r.getLong(Checked.size + 1); canaryIds += id }
      expected.get(id) match {
        case None => flag("unknown", id)
        case Some(e) if e.expect_bad => flag("misclassified", id)
        case Some(e) =>
          val ok = expectedValues(e).zipWithIndex.forall {
            case (None, _) => true
            case (Some(v), i) => !r.isNullAt(i + 1) && r.get(i + 1) == v
          }
          if (!ok) flag("wrong_value", id)
      }
    }
    badIds.foreach { case (id, line) =>
      seen(id) += 1
      expected.get(id) match {
        case None => flag("unknown", id)
        case Some(e) if !e.expect_bad => flag("misclassified", id)
        case Some(e) => if (!e.messages.forall(line.contains)) flag("wrong_message", id)
      }
    }
    expected.keys.foreach { id =>
      seen.get(id) match {
        case None => flag("lost", id)
        case Some(k) if k > 1 => flag("duplicated", id)
        case _ =>
      }
    }
    if (!recorded.contains(digest.toString)) canaryIds.foreach(flag("canary_digest", _))
    CheckResult(flagged.map { case (k, v) => k -> v.size.toLong }.toMap,
      flagged.values.flatten.toSet.size.toLong, digest.toString, canaryIds.size.toLong)
  }

  /** Bytes of the data files under `dir`: hidden, checksum and metadata
    * files left out. */
  def dataBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else Using.resource(Files.walk(dir))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.toString.contains("/_") &&
        !p.getFileName.toString.startsWith("."))
      .map(Files.size).sum)
}
