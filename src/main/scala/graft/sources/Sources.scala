package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** Raw-event sources — the Spark twin of snowplow/enrich's loader layer
  * (`modules/common/.../loaders/`: Thrift/TSV collector payloads from
  * Kinesis, Kafka, PubSub, NSQ).
  *
  * In Spark the transport is the engine's job: batch = `spark.read`,
  * streams = `spark.readStream` (`format("kafka")` etc. with checkpointed
  * offsets ≈ the reference's at-least-once checkpointing). graft supplies
  * the payload *parsers* as declarative transforms that work identically on
  * both.
  */
object Sources {

  /** Column layout of a graft collector TSV line (a simplified twin of the
    * reference's CollectorPayload: collector timestamp, client IP, user
    * agent, page URL, tracker event code, querystring). */
  val CollectorTsvFields: Seq[(String, String)] = Seq(
    "collector_tstamp_us" -> "bigint",
    "user_ipaddress" -> "string",
    "useragent" -> "string",
    "page_url" -> "string",
    "event_code" -> "string",
    "querystring" -> "string"
  )

  /** Parse collector TSV lines into typed raw-event columns. Works on any
    * DataFrame with a string column (batch or streaming). */
  def parseCollectorTsv(lines: DataFrame, lineCol: String = "value"): DataFrame =
    lines.select(collectorTsvCols(col(lineCol)): _*)

  /** The [[CollectorTsvFields]] of a TSV line column, typed: the raw
    * fields come from one [[graft.plans.CollectorTsvExpression]] split per
    * row. try_cast: a malformed line's garbage timestamp must become a null
    * field under ANSI, never a job-killing cast error. */
  private def collectorTsvCols(line: Column): Seq[Column] = {
    val fields = ColumnBridge.column(graft.plans.CollectorTsvExpression(
      ColumnBridge.expression(line.cast("string")), CollectorTsvFields.map(_._1)))
    CollectorTsvFields.map { case (name, typ) =>
      val v = fields.getField(name)
      (if (typ == "string") v else v.try_cast(typ)).as(name)
    }
  }

  /** The Column specification twin of the collector-TSV parse: the
    * `split` + `try_element_at` + `try_cast` per field that the kernel
    * replaces. */
  def collectorTsvColsSpec(line: Column): Seq[Column] = {
    val parts = split(line, "\t")
    CollectorTsvFields.zipWithIndex.map { case ((name, typ), i) =>
      try_element_at(parts, lit(i + 1)).try_cast(typ).as(name)
    }
  }

  /** Per-row entry for [[graft.plans.CollectorTsvExpression]]: the first
    * `n` tab-separated fields of `line`, null past its last field — what
    * `try_element_at(split(line, "\t"), i)` returns. An ASCII line splits
    * on its bytes; any other line splits as a Java string, as `split`
    * does, so malformed UTF-8 decodes to U+FFFD the same way. */
  def collectorTsvRow(line: UTF8String, n: Int): InternalRow = {
    val out = new Array[Any](n)
    if (line == null) return new GenericInternalRow(out)
    val len = line.numBytes
    var ascii = true
    var i = 0
    while (ascii && i < len) { ascii = line.getByte(i) >= 0; i += 1 }
    if (ascii) {
      val bytes = line.getBytes
      var start = 0
      var f = 0
      i = 0
      while (f < n && i <= len) {
        if (i == len || bytes(i) == '\t') {
          out(f) = UTF8String.fromBytes(bytes, start, i - start)
          f += 1
          start = i + 1
        }
        i += 1
      }
    } else {
      val parts = line.toString.split("\t", -1)
      var f = 0
      while (f < n && f < parts.length) { out(f) = UTF8String.fromString(parts(f)); f += 1 }
    }
    new GenericInternalRow(out)
  }

  /** [[parseCollectorTsv]] plus the reference's LOADER failure channel
    * (loaders → `BadRow.CPFormatViolation`): a line whose collector
    * timestamp does not parse becomes a self-describing
    * collector_payload_format_violation envelope (raw line base64'd as the
    * replay payload) instead of a silently-null row. Returns
    * (good parsed rows, bad (line, bad_row) envelopes) — the loader-level
    * twin of `EnrichmentPipeline.split`. */
  def collectorTsvSplit(
    lines: DataFrame,
    etlTstampUs: Column,
    lineCol: String = "value"
  ): (DataFrame, DataFrame) = {
    val withParsed = lines.select(col(lineCol).as("_line") +: collectorTsvCols(col(lineCol)): _*)
    val bad = withParsed.filter(col(CollectorTsvFields.head._1).isNull)
      .select(
        col("_line").as("line"),
        graft.enrich.BadRows.cpFormatViolationJson(col("_line"), "tsv",
          lit("error deserializing raw event: line does not parse as collector TSV"),
          etlTstampUs).as("bad_row"))
    (withParsed.filter(col(CollectorTsvFields.head._1).isNotNull).drop("_line"), bad)
  }

  /** Batch read of collector TSV files. */
  def collectorTsv(spark: SparkSession, path: String): DataFrame =
    parseCollectorTsv(spark.read.text(path))

  /** Streaming read of collector TSV files dropped into a directory. */
  def collectorTsvStream(spark: SparkSession, path: String): DataFrame =
    parseCollectorTsv(spark.readStream.text(path))

  /** Parse CloudFront web-distribution access-log lines (the reference's
    * `CloudfrontAccessLogAdapter` / legacy collector format): tab-separated
    * `date time x-edge-location sc-bytes c-ip cs-method cs(Host) cs-uri-stem
    * sc-status cs(Referer) cs(User-Agent) cs-uri-query ...`. Produces the
    * same raw-event columns as [[parseCollectorTsv]] plus the referer. */
  def parseCloudfrontLog(lines: DataFrame, lineCol: String = "value"): DataFrame = {
    val p = split(col(lineCol), "\t")
    lines
      .filter(!col(lineCol).startsWith("#")) // header comment lines
      .select(
        // try_cast / try_url_decode: one malformed access-log line must
        // become a null-field row under ANSI mode, not a job-killing error
        unix_micros(concat(try_element_at(p, lit(1)), lit(" "), try_element_at(p, lit(2))).try_cast("timestamp"))
          .as("collector_tstamp_us"),
        try_element_at(p, lit(5)).as("user_ipaddress"),
        // CF double-URL-encodes the UA field
        try_url_decode(try_url_decode(try_element_at(p, lit(11)))).as("useragent"),
        concat(lit("https://"), try_element_at(p, lit(7)), try_element_at(p, lit(8))).as("page_url"),
        nullif(try_element_at(p, lit(10)), lit("-")).as("page_referrer"),
        nullif(try_element_at(p, lit(12)), lit("-")).as("querystring"))
  }

  /** Compressed collector-payload blobs → TSV lines (reference
    * core/Decompressor.scala + PayloadProvider: the collector delivers
    * gzip- or zstd-batched payload blobs; the provider inflates each with
    * a bomb guard and splits it back into per-event records before the
    * loader parses them).
    *
    * Reads every file under `path` as one blob (`binaryFile` — a blob is
    * one collector batch, so file == unit of decompression), sniffs the
    * codec per blob from its magic bytes (RFC 1952 `1f 8b` = gzip,
    * RFC 8878 `28 b5 2f fd` = zstd, anything else = plain), inflates
    * inside the scan projection, and explodes to lines.
    *
    * Failure contract, reference-faithful: a CORRUPT blob (truncated
    * upload, bit rot) becomes one bad ROW — `value` null, `blob_path`
    * naming the culprit — never a dead job; a blob whose inflated size
    * exceeds `maxBytes` fails LOUD (the deliberate decompression-bomb
    * guard). Filter `value.isNotNull` for the good lines, `isNull` for
    * the dead-letter channel. Compose with [[parseCollectorTsv]]. */
  def collectorBlobLines(spark: SparkSession, path: String, maxBytes: Int = 1 << 26): DataFrame = {
    import graft.functions.PayloadF
    val blobs = spark.read.format("binaryFile").load(path)
      .select(col("path").as("blob_path"), col("content"))
    val gzMagic = substring(col("content"), 1, 2) === lit(Array(0x1f.toByte, 0x8b.toByte))
    val zstdMagic = substring(col("content"), 1, 4) ===
      lit(Array(0x28.toByte, 0xb5.toByte, 0x2f.toByte, 0xfd.toByte))
    val inflated =
      when(gzMagic, PayloadF.gunzipLenient(col("content"), maxBytes))
        .when(zstdMagic, PayloadF.unzstdLenient(col("content"), maxBytes))
        .otherwise(col("content"))
    blobs
      .select(col("blob_path"), inflated.cast("string").as("payload"))
      // explode_outer keeps a corrupt blob's null payload as its bad row
      .select(col("blob_path"), explode_outer(split(col("payload"), "\n")).as("value"))
      .where(col("value").isNull || col("value") =!= "")
  }

  /** Kafka raw-event stream (value = collector TSV line). The transport
    * options mirror the reference's stream-enrich source config. */
  def collectorTsvKafka(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    parseCollectorTsv(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .load()
        .select(col("value").cast("string").as("value")))
}
