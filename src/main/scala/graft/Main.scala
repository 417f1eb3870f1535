package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.enrich.{BadRows, EnrichmentConfig, EnrichmentPipeline}
import graft.sources.Sources

/** Standalone enrichment application — the Spark twin of the reference's
  * runnable assets (stream-enrich for Kinesis/Kafka/NSQ, enrich-pubsub):
  * source → enrichment pipeline → good/bad sinks, batch or streaming.
  *
  * {{{
  * spark-submit --class graft.Main graft.jar \
  *   --mode batch --format collector-tsv \
  *   --input  s3://raw/2024-01-15/ \
  *   --good   s3://enriched/good/ --bad s3://enriched/bad/ \
  *   --config enrichments.json [--checkpoint s3://ck/]   # streaming only
  * }}}
  */
object Main {

  private case class Args(
    mode: String = "batch",
    format: String = "collector-tsv",
    input: String = "",
    good: String = "",
    bad: String = "",
    config: String = "",
    checkpoint: String = "",
    transport: String = "",
    transportConfig: String = "",
    once: Boolean = false,
    refreshDims: Boolean = false
  )

  private def parse(argv: List[String], acc: Args): Args = argv match {
    case Nil => acc
    case "--mode" :: v :: rest => parse(rest, acc.copy(mode = v))
    case "--format" :: v :: rest => parse(rest, acc.copy(format = v))
    case "--input" :: v :: rest => parse(rest, acc.copy(input = v))
    case "--good" :: v :: rest => parse(rest, acc.copy(good = v))
    case "--bad" :: v :: rest => parse(rest, acc.copy(bad = v))
    case "--config" :: v :: rest => parse(rest, acc.copy(config = v))
    case "--checkpoint" :: v :: rest => parse(rest, acc.copy(checkpoint = v))
    // per-transport source factory (reference kinesis/pubsub/nsq/kafka app
    // config, minimal-JSON form) — overrides --format/--input for streams
    case "--transport" :: v :: rest => parse(rest, acc.copy(transport = v))
    case "--transport-config" :: v :: rest => parse(rest, acc.copy(transportConfig = v))
    // drain mode: process everything available, then exit (Trigger.AvailableNow)
    case "--once" :: rest => parse(rest, acc.copy(once = true))
    // AssetRefresher semantics: a lookup stage reads its dim when the
    // pipeline is built, so one long-lived stream query keeps the dim rows
    // it started with. This mode rebuilds the pipeline (re-reading
    // --config) every micro-batch, so each dim is read once per batch and a
    // dim overwritten on disk takes effect on the next batch. One
    // foreachBatch query writes both sinks from one enrichment pass, so a
    // batch never splits across two configs. Note: foreachBatch append is
    // at-least-once on a batch retry (the default file sink's exactly-once
    // commit log does not apply in this mode).
    case "--refresh-dims" :: rest => parse(rest, acc.copy(refreshDims = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }

  private def readFile(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList, Args())
    require(args.input.nonEmpty || args.transport.nonEmpty,
      "--input (or --transport + --transport-config) is required")
    require(args.good.nonEmpty, "--good is required")

    val builder = GraftSession.configure().appName("graft-enrich")
    // spark-submit injects the master; default for bare local runs. Track
    // whether we REUSED an existing session (tests drive main() in-process)
    // so we never stop a session we did not create.
    val reused = SparkSession.getActiveSession.isDefined
    val spark = (if (new org.apache.spark.SparkConf().contains("spark.master")) builder
                 else builder.master("local[*]")).getOrCreate()

    def mkPipeline() =
      if (args.config.nonEmpty) EnrichmentConfig.fromJson(readFile(args.config))
      else graft.queries.PipelineQuery.pipeline
    val pipeline = mkPipeline()

    // the etl timestamp every bad-row envelope carries (reference
    // etlTstamp: job start)
    val etlUs = org.apache.spark.sql.functions.lit(System.currentTimeMillis() * 1000L)
    // replay payload inside envelopes = the raw collector columns
    def payloadCols(df: DataFrame): Seq[String] =
      Sources.CollectorTsvFields.map(_._1).filter(df.columns.contains) match {
        case Nil => df.columns.toSeq.take(6)
        case cols => cols
      }

    // good parquet and, with --bad, the reference-compatible bad stream:
    // one self-describing bad-row envelope JSON document per failed event.
    // Two sinks share one enrichment pass (withSplit); a lone good sink
    // needs no stored copy of the enriched rows (split).
    def writeSinks(pipeline: EnrichmentPipeline, raw: DataFrame): Unit =
      if (args.bad.isEmpty) pipeline.split(raw)._1.write.mode("append").parquet(args.good)
      else pipeline.withSplit(raw) { (good, bad) =>
        good.write.mode("append").parquet(args.good)
        bad.select(BadRows.badRowJson(col("bad_row_errors"),
            struct(payloadCols(raw).map(col): _*), etlUs).as("bad_row"))
          .write.mode("append").text(args.bad)
      }

    args.mode match {
      case "batch" =>
        val raw = args.format match {
          case "collector-tsv" =>
            graft.enrich.Protocol.fromCollector(Sources.collectorTsv(spark, args.input))
          case "cloudfront" =>
            graft.enrich.Protocol.fromCollector(Sources.parseCloudfrontLog(spark.read.text(args.input)))
          case "parquet" => spark.read.parquet(args.input)
          case other => throw new IllegalArgumentException(s"unknown format: $other")
        }
        writeSinks(pipeline, raw)

      case "stream" =>
        require(args.checkpoint.nonEmpty, "--checkpoint is required in stream mode")
        val raw =
          if (args.transport.nonEmpty) {
            // reference-app transport config → connector binding → framing →
            // watermark-bounded (shard, seq) redelivery absorption →
            // collector TSV parse — the full migration path in one flag
            require(args.transportConfig.nonEmpty,
              "--transport needs --transport-config <reference input-section JSON>")
            val framed = graft.sources.TransportFactories
              .bindingFromJson(args.transport, readFile(args.transportConfig))
              .open(spark)
            graft.enrich.Protocol.fromCollector(Sources.parseCollectorTsv(
              graft.streaming.Transport.absorbRedelivery(framed)))
          } else args.format match {
            case "collector-tsv" =>
              graft.enrich.Protocol.fromCollector(Sources.collectorTsvStream(spark, args.input))
            case "kafka" =>
              // --input broker1:9092,broker2:9092/topic
              val (bootstrap, topic) = args.input.split("/", 2) match {
                case Array(b, t) => (b, t)
                case _ => throw new IllegalArgumentException(
                  "kafka format needs --input bootstrap-servers/topic")
              }
              graft.enrich.Protocol.fromCollector(
                Sources.collectorTsvKafka(spark, bootstrap, topic))
            case other => throw new IllegalArgumentException(s"unknown streaming format: $other")
          }
        def trigger[T](w: org.apache.spark.sql.streaming.DataStreamWriter[T]) =
          if (args.once) w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()) else w
        if (args.refreshDims)
          // one query, so one checkpoint: it keeps the good sink's directory
          // and resumes where the good query of the two-query layout stopped
          trigger(raw.writeStream
            .foreachBatch((batch: DataFrame, _: Long) => writeSinks(mkPipeline(), batch))
            .option("checkpointLocation", args.checkpoint + "/good"))
            .start().awaitTermination()
        else {
          // a sink query that fails, at start or mid-stream, stops the
          // other and its error is rethrown: neither sink keeps writing
          // alone. Each query may end by itself (--once) or by stop().
          val queries = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
          try {
            queries += trigger(pipeline.split(raw)._1
              .writeStream
              .format("parquet")
              .option("path", args.good)
              .option("checkpointLocation", args.checkpoint + "/good")
              .outputMode("append"))
              .start()
            if (args.bad.nonEmpty)
              queries += trigger(pipeline.badRowsJson(raw, payloadCols(raw), etlUs)
                .select("bad_row").writeStream
                .format("text")
                .option("path", args.bad)
                .option("checkpointLocation", args.checkpoint + "/bad")
                .outputMode("append")).start()
            // awaitTermination rethrows a query's failure
            while (!queries.map(_.awaitTermination(100)).forall(identity)) ()
          } finally queries.foreach(_.stop())
        }

      case other => throw new IllegalArgumentException(s"unknown mode: $other")
    }
    if (args.mode == "batch" && !reused) spark.stop()
  }
}
