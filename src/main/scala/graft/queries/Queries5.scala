package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{EventF, IpF}

/** SURVEY §2 batch 5: CloudFront access-log loader round-trip, JSON event
  * output, and two more OLAP shapes (returned-items q10, shipmode q12).
  */
object Queries5 extends QuerySet {
  private def raw(spark: SparkSession, dir: String): DataFrame =
    Synth.withRaw(Tables.events(spark, dir))

  val defs: Map[String, Q] = Map(
    "cloudfront_log_parse" -> { (sp, dir) =>
      // synthesize a CF log line from raw columns, then parse it back with
      // the library loader (graft.sources.Sources.parseCloudfrontLog core)
      val line = concat_ws("\t",
        lit("2024-01-15"), lit("10:30:00"), lit("SFO5"), lit("1024"),
        col("ip"), lit("GET"), lit("d.example.com"),
        concat(lit("/i-"), (col("event_id") % 50).cast("string")),
        lit("200"), coalesce(col("refr_url"), lit("-")), lit("Mozilla%255Cx"), lit("-"))
      val p = split(col("line"), "\t")
      raw(sp, dir)
        .withColumn("line", line)
        .select(
          col("event_id"),
          element_at(p, 5).as("cf_ip"),
          concat(lit("https://"), element_at(p, 7), element_at(p, 8)).as("cf_url"),
          nullif(element_at(p, 10), lit("-")).as("cf_referrer"))
        .orderBy("event_id")
    },

    "enriched_json_out" -> { (sp, dir) =>
      // JSON event output (reference outputs/EnrichedEvent JSON mode +
      // IgluUtils contexts assembly): atomic fields plus the contexts /
      // derived_contexts self-describing arrays, built with explicit concat
      // so the byte layout is engine-portable
      import graft.functions.{UaF, UrlF}
      val e = col("event_id")
      val s = (c: org.apache.spark.sql.Column) => c.cast("string")
      val jsonStr = (k: String, v: org.apache.spark.sql.Column) =>
        when(v.isNull, lit(s""""$k":null"""))
          .otherwise(concat(lit(s""""$k":""""), v, lit("\"")))
      val jsonNum = (k: String, v: org.apache.spark.sql.Column) =>
        when(v.isNull, lit(s""""$k":null"""))
          .otherwise(concat(lit(s""""$k":"""), v.cast("string")))
      val ua = col("ua")
      val derived = EventF.derivedTstampMicros(
        col("collector_us"), col("created_us"), col("sent_us"), col("true_us"))
      val pageQs = UrlF.urlQuery(col("page_url"))
      // input contexts: client_session + web_page, deterministic from ids
      val cliCtx = concat(
        lit("{\"schema\":\"iglu:com.snowplowanalytics.snowplow/client_session/jsonschema/1-0-1\"," +
          "\"data\":{\"userId\":\"u"), s(col("user_id")),
        lit("\",\"sessionId\":\"s"), s(e % 500), lit("\"}}"))
      val webCtx = concat(
        lit("{\"schema\":\"iglu:com.snowplowanalytics.snowplow/web_page/jsonschema/1-0-0\"," +
          "\"data\":{\"id\":\"p"), s(e % 100), lit("\"}}"))
      val contexts = concat(lit("["), cliCtx, lit(","), webCtx, lit("]"))
      // derived contexts: the ua_parser_context the UA enrichment produces
      val uaCtxData = concat(
        lit("{"),
        jsonStr("useragentFamily", UaF.browserFamily(ua)), lit(","),
        jsonStr("useragentVersion", UaF.browserVersion(ua)), lit(","),
        jsonStr("osFamily", UaF.osFamily(ua)),
        lit("}"))
      val derivedCtxs = concat(
        lit("[{\"schema\":\"iglu:com.snowplowanalytics.snowplow/ua_parser_context/jsonschema/1-0-0\"," +
          "\"data\":"), uaCtxData, lit("}]"))
      val doc = concat(
        lit("{"),
        jsonNum("event_id", e), lit(","),
        jsonStr("event", EventF.eventTypeFromCode(col("event_code"))), lit(","),
        jsonStr("platform", EventF.platformValidate(col("platform_code"))), lit(","),
        jsonNum("collector_tstamp_us", col("collector_us")), lit(","),
        jsonNum("derived_tstamp_us", derived), lit(","),
        jsonStr("user_ipaddress", IpF.anonIp(col("ip"), 2, 4)), lit(","),
        jsonStr("page_urlhost", UrlF.urlHost(col("page_url"))), lit(","),
        jsonStr("page_urlpath", UrlF.urlPath(col("page_url"))), lit(","),
        jsonStr("mkt_source", UrlF.firstParam(pageQs, Seq("utm_source", "mkt_source"))), lit(","),
        jsonStr("br_family", UaF.browserFamily(ua)), lit(","),
        jsonStr("dvce_type", UaF.deviceClass(ua)), lit(","),
        lit("\"unstruct_event\":null,"),
        concat(lit("\"contexts\":"), contexts), lit(","),
        concat(lit("\"derived_contexts\":"), derivedCtxs),
        lit("}"))
      raw(sp, dir)
        .select(col("event_id"), doc.as("event_json"), md5(doc.cast("binary")).as("json_md5"))
        .orderBy("event_id")
    },

    "q10_returned" -> { (sp, dir) =>
      val cust = Tables.customer(sp, dir)
      val ord = Tables.orders(sp, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      val li = Tables.lineitem(sp, dir).filter(col("l_returnflag") === "R")
      val nat = broadcast(Tables.nation(sp, dir))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("bigint") *
          (lit(100L) - round(col("l_discount") * 100).cast("bigint"))).as("revenue_e4"))
        .orderBy(col("revenue_e4").desc, col("c_custkey"))
        .limit(20)
    },

    "q12_shipmode" -> { (sp, dir) =>
      // q12 shape on available columns: priority-class counts per linestatus
      val ord = Tables.orders(sp, dir)
      val li = Tables.lineitem(sp, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("low_line_count"))
        .orderBy("l_linestatus")
    }
  )

  val oracles: Map[String, String] = Map(
    "cloudfront_log_parse" -> Synth.withCte(
      """SELECT event_id,
        |  list_extract(p, 5) AS cf_ip,
        |  concat('https://', list_extract(p, 7), list_extract(p, 8)) AS cf_url,
        |  nullif(list_extract(p, 10), '-') AS cf_referrer
        |FROM (
        |  SELECT event_id, string_split(
        |    concat_ws(chr(9), '2024-01-15', '10:30:00', 'SFO5', '1024', ip, 'GET',
        |              'd.example.com', concat('/i-', event_id % 50), '200',
        |              coalesce(refr_url, '-'), 'Mozilla%255Cx', '-'), chr(9)) AS p
        |  FROM raw) t ORDER BY event_id""".stripMargin),

    "enriched_json_out" -> {
      import graft.functions.UaF
      val eventTypeCase = "CASE event_code " +
        EventF.EventTypeMap.map { case (k, v) => s"WHEN '$k' THEN '$v'" }.mkString(" ") + " END"
      val platformCase =
        s"CASE WHEN platform_code IN (${EventF.ValidPlatforms.map(p => s"'$p'").mkString(",")}) THEN platform_code END"
      val anonIpSql = raw"regexp_replace(ip, '^(\d+)\.(\d+)\.\d+\.\d+$$', '\1.\2.x.x')"
      val derived =
        """CASE WHEN true_us IS NOT NULL THEN true_us
          |     WHEN sent_us IS NOT NULL AND created_us IS NOT NULL AND created_us < sent_us
          |       THEN collector_us - (sent_us - created_us)
          |     ELSE collector_us END""".stripMargin
      val pageHost = "nullif(regexp_extract(page_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1), '')"
      val pagePath = "nullif(regexp_extract(page_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1), '')"
      val pageQs = raw"nullif(regexp_extract(page_url, '\?([^#]*)', 1), '')"
      def qsParam(key: String) =
        s"nullif(regexp_extract($pageQs, '(?:^|&)$key=([^&]*)', 1), '')"
      val mktSource = s"coalesce(${qsParam("utm_source")}, ${qsParam("mkt_source")})"
      def jStr(k: String, v: String) =
        s"""CASE WHEN $v IS NULL THEN '"$k":null' ELSE concat('"$k":"', $v, '"') END"""
      def jNum(k: String, v: String) =
        s"""CASE WHEN $v IS NULL THEN '"$k":null' ELSE concat('"$k":', $v) END"""
      val cliCtx = "concat('{\"schema\":\"iglu:com.snowplowanalytics.snowplow/client_session/jsonschema/1-0-1\"," +
        "\"data\":{\"userId\":\"u', user_id, '\",\"sessionId\":\"s', event_id % 500, '\"}}')"
      val webCtx = "concat('{\"schema\":\"iglu:com.snowplowanalytics.snowplow/web_page/jsonschema/1-0-0\"," +
        "\"data\":{\"id\":\"p', event_id % 100, '\"}}')"
      val uaCtxData = s"concat('{', ${jStr("useragentFamily", UaF.brFamilySql("ua"))}, ',', " +
        s"${jStr("useragentVersion", UaF.brVersionSql("ua"))}, ',', " +
        s"${jStr("osFamily", UaF.osFamilySql("ua"))}, '}')"
      Synth.withCte(
        s"""SELECT event_id, doc AS event_json, md5(doc) AS json_md5
           |FROM (
           |  SELECT event_id, concat('{',
           |    ${jNum("event_id", "event_id")}, ',',
           |    ${jStr("event", eventTypeCase)}, ',',
           |    ${jStr("platform", platformCase)}, ',',
           |    ${jNum("collector_tstamp_us", "collector_us")}, ',',
           |    ${jNum("derived_tstamp_us", derived)}, ',',
           |    ${jStr("user_ipaddress", anonIpSql)}, ',',
           |    ${jStr("page_urlhost", pageHost)}, ',',
           |    ${jStr("page_urlpath", pagePath)}, ',',
           |    ${jStr("mkt_source", mktSource)}, ',',
           |    ${jStr("br_family", UaF.brFamilySql("ua"))}, ',',
           |    ${jStr("dvce_type", UaF.deviceClassSql("ua"))}, ',',
           |    '"unstruct_event":null,',
           |    '"contexts":[', $cliCtx, ',', $webCtx, '],',
           |    '"derived_contexts":[{"schema":"iglu:com.snowplowanalytics.snowplow/ua_parser_context/jsonschema/1-0-0","data":', $uaCtxData, '}]',
           |    '}') AS doc
           |  FROM raw) t ORDER BY event_id""".stripMargin)
    },

    "q10_returned" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue_e4 DESC, c_custkey LIMIT 20""".stripMargin,

    "q12_shipmode" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin
  )
}
