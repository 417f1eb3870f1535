package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming entry points — the Spark twin of the reference's streaming apps
  * (snowplow/enrich `modules/kinesis|kafka|nsq|pubsub`: source → enrich →
  * sink with at-least-once delivery).
  *
  * Because every graft enrichment is a declarative column transform, the
  * *same* [[graft.enrich.EnrichmentPipeline]] instance runs unchanged on a streaming
  * DataFrame — Structured Streaming provides incremental execution,
  * checkpointed offsets (at-least-once, like the reference's Kinesis
  * checkpointing) and watermark-based state eviction. Enrichment adds no
  * state at all (narrow transforms), so streaming enrichment scales exactly
  * like the batch scan: partition-parallel, no shuffle. Stream enrichment
  * is `pipeline.run(stream)` and its bad rows `pipeline.badRowsJson(...)`;
  * this object holds the stream-only aggregates.
  */
object EnrichStream {

  /** Watermarked tumbling-window counts by key (the streaming twin of the
    * `windowed_agg` batch query). `tsUsCol` is epoch micros. */
  def windowedCounts(
    events: DataFrame,
    tsUsCol: String,
    keyCol: String,
    windowLength: String = "1 hour",
    watermarkDelay: String = "10 minutes"
  ): DataFrame =
    events
      .withColumn("__event_time", timestamp_micros(col(tsUsCol)))
      .withWatermark("__event_time", watermarkDelay)
      .groupBy(window(col("__event_time"), windowLength), col(keyCol))
      // try_cast: one NaN/overflow value in a long-running stream must not
      // kill the query under ANSI — it nulls out of the sum instead
      .agg(count(lit(1)).as("cnt"), sum(round(col("value") * 100).try_cast("bigint")).as("sum_value_cents"))
}
