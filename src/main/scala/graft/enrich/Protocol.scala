package graft.enrich

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.UrlF

/** Tracker-protocol parameter mapping — the Spark twin of the reference's
  * `enrichments/Transform.scala`: lift the raw querystring parameters
  * (`e`, `p`, `res`, `uid`, `url`, `refr`, `dtm`, `stm`, `ttm`, `tr_tt`,
  * `tr_cu`, `_sp`, …) onto the column names the enrichment chain consumes.
  *
  * Applied between a loader ([[graft.sources.Sources]]) and an
  * [[EnrichmentPipeline]]; a pure projection like everything else.
  */
object Protocol {

  /** The querystring keys [[fromCollector]] reads, in one
    * [[graft.plans.TrackerParamsExpression]] walk per row. */
  val TrackerKeys: Seq[String] =
    Seq("e", "p", "res", "uid", "dtm", "stm", "ttm", "url", "refr", "_sp", "tr_tt", "tr_cu")

  /** Collector-loader output (collector_tstamp_us, user_ipaddress,
    * useragent, page_url, event_code, querystring) → pipeline raw columns. */
  def fromCollector(df: DataFrame, qsCol: String = "querystring"): DataFrame = {
    // every getField shares one querystring walk (codegen subexpression
    // elimination); each field equals UrlF.qsParam(querystring, key)
    val params = UrlF.trackerParams(col(qsCol), TrackerKeys)
    def p(key: String) = params.getField(key)
    // try_cast / try_url_decode / try_multiply throughout: tracker params
    // are attacker-controlled strings, and under ANSI mode (Spark 4
    // default) a plain cast, url_decode or overflowing multiply on one
    // malformed row would kill the whole job — a bad param must become a
    // null column, not an exception
    def pMsToUs(key: String) = try_multiply(p(key).try_cast("bigint"), lit(1000L))
    val eventCode = // CloudFront lines carry no event_code column
      if (df.columns.contains("event_code")) coalesce(p("e"), col("event_code")) else p("e")
    // one projection: existing columns (event_code, page_url) are replaced
    // in place and the rest append in this order
    df.withColumns(ListMap(
      "event_code" -> eventCode,
      "platform_code" -> p("p"),
      "res" -> p("res"),
      "user_id" -> p("uid"),
      "ua" -> col("useragent"),
      "xff" -> col("user_ipaddress"),
      "collector_us" -> col("collector_tstamp_us"),
      // tracker timestamps arrive as epoch millis strings
      "created_us" -> pMsToUs("dtm"),
      "sent_us" -> pMsToUs("stm"),
      "true_us" -> pMsToUs("ttm"),
      // page/referrer URLs are URL-encoded in the querystring; the loader's
      // own page_url (from the request line) is the fallback
      "page_url" -> coalesce(try_url_decode(p("url")), col("page_url")),
      "refr_url" -> try_url_decode(p("refr")),
      "sp_qs" -> p("_sp"),
      "amount_cents" -> round(p("tr_tt").try_cast("double") * 100).try_cast("bigint"),
      "currency" -> p("tr_cu")))
  }
}
