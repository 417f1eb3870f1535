package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.enrich.{BadRows, EnrichmentPipeline, FieldSpec, SchemaValidate, TrackerTransform}

/** SURVEY §2 additions (round 12): the reference's failed-events OUTPUT
  * format and its read path.
  *
  *  - `bad_rows_out`: a planted-failure corpus runs the REAL enrichment
  *    chain (TrackerTransform + SchemaValidate), and every failed event
  *    serializes to the self-describing bad-row envelope downstream
  *    consumers parse (reference common/enrichments/Failure.scala:34
  *    `toSDJ` FailureContext; envelope assembly in EtlPipeline.scala:24) —
  *    schema URI, processor, ordered failure-context array, original
  *    payload. The DuckDB twin reconstructs the envelope JSON byte-for-byte
  *    from the planted arithmetic, so any drift in field order, null
  *    rendering, escaping, or the taxonomy→failureType mapping
  *    hash-mismatches.
  *  - `bad_rows_triage`: the recovery-job READ path — parse the emitted
  *    envelopes back into (failure_type, schema, reason, component) and roll
  *    up for the reprocess decision. The bench number includes REBUILDING
  *    the envelopes inline (there is no intermediate storage in the gate);
  *    a production recovery job reads stored envelopes, so its cost is the
  *    from_json + rollup half only. Both halves are one narrow scan — no
  *    shuffle until the four-row rollup.
  *  - `adapter_remote`: the RemoteAdapter under the oracle gate (below).
  *  - `bad_rows_cp_format`: the LOADER failure channel — malformed
  *    collector lines become collector_payload_format_violation envelopes
  *    via `Sources.collectorTsvSplit` (raw line base64'd for replay).
  */
object Queries157 extends QuerySet {
  /** Fixed ETL timestamp so both engines agree: 2023-11-14T22:13:20Z. */
  private val EtlUs = 1700000000000000L
  private val Iso = "2023-11-14T22:13:20Z"

  private val OrderUri = "iglu:com.acme/order/jsonschema/1-0-*"
  private val UnknownUri = "iglu:com.acme/unknown/jsonschema/1-0-0"

  /** Planted failures, one class per event_id % 7 residue:
    *  1 → unknown tracker event code ("zz");
    *  3 → self-describing payload under an UNKNOWN schema;
    *  5 → required `sku` missing AND `qty` mistyped (two entities, in
    *      enrichment order);
    *  6 → `qty` mistyped only;
    *  everything else enriches clean and stays out of the bad stream. */
  private def planted(sp: SparkSession, dir: String): DataFrame = {
    val e = col("event_id")
    val s = (c: Column) => c.cast("string")
    Tables.events(sp, dir).select(
      e,
      when(e % 7 === 1, lit("zz")).otherwise(lit("pv")).as("event_code"),
      lit("web").as("platform_code"),
      concat(s(e % 1200 + 320), lit("x"), s(e % 800 + 240)).as("res"),
      lit(null).cast("string").as("xff"),
      when(e % 7 === 3, lit(UnknownUri)).otherwise(lit("iglu:com.acme/order/jsonschema/1-0-0"))
        .as("schema_str"),
      when(e % 7 === 5, lit("{\"qty\":\"oops\"}"))
        .when(e % 7 === 6, concat(lit("{\"sku\":\"sku"), s(e % 40), lit("\",\"qty\":\"oops\"}")))
        .otherwise(concat(lit("{\"sku\":\"sku"), s(e % 40), lit("\",\"qty\":"), s(e % 9), lit("}")))
        .as("up"))
  }

  private val pipe = EnrichmentPipeline(Seq(
    TrackerTransform(),
    SchemaValidate("up", "schema_str", Map(OrderUri -> Seq(
      FieldSpec("sku", required = true),
      FieldSpec("qty", typ = "bigint"))))))

  private def envelopes(sp: SparkSession, dir: String): DataFrame =
    pipe.badRowsJson(planted(sp, dir),
      Seq("event_id", "event_code", "schema_str", "up"), lit(EtlUs))

  val defs: Map[String, Q] = Map(
    "bad_rows_out" -> { (sp, dir) =>
      envelopes(sp, dir).select(col("event_id"), col("bad_row")).orderBy("event_id")
    },

    "bad_rows_triage" -> { (sp, dir) =>
      // r16: triage is the in-pipeline consumer here (the bench rebuilds
      // envelopes inline, there is no intermediate store), so it reads the
      // STRUCT failure channel directly instead of serializing the bad-row
      // JSON envelope and from_json-re-parsing it in the same plan —
      // BadRows.triageFromEntities documents the by-construction
      // equivalence; bad_rows_out keeps the byte-identical envelope path.
      val bad = pipe.run(planted(sp, dir)).filter(size(col("bad_row_errors")) > 0)
      BadRows.triageFromEntities(bad, "bad_row_errors")
        .groupBy("failure_type", "schema", "reason", "component")
        .agg(count(lit(1)).as("n"))
        .orderBy("failure_type", "reason")
    },

    "adapter_remote" -> { (sp, dir) =>
      // reference adapters/registry/RemoteAdapter.scala:48 — POST the
      // payload envelope to a user webservice, parse {"events":[{k:v}...]}
      // back, one raw event per element. Deterministic transport: the
      // response derives from the request body (ev → n events), with
      // planted transport failures (%13) and malformed responses (%11) —
      // the DuckDB twin recomputes all three outcomes from the arithmetic.
      val e = col("event_id")
      val ev = Tables.events(sp, dir).select(
        e,
        concat(lit("ev="), e.cast("string"), lit("&n="), ((e % 3) + 1).cast("string")).as("body"))
      val transport: String => Option[String] = { req =>
        val body = "\"body\":\"([^\"]*)\"".r.findFirstMatchIn(req).map(_.group(1)).getOrElse("")
        val id = "ev=(\\d+)".r.findFirstMatchIn(body).map(_.group(1).toLong).getOrElse(-1L)
        val n = "n=(\\d+)".r.findFirstMatchIn(body).map(_.group(1).toInt).getOrElse(0)
        if (id % 13 == 0) throw new java.io.IOException("timeout")
        else if (id % 11 == 0) Some("not json")
        else Some((0 until n)
          .map(i => s"""{"aid":"app-${id % 5}","idx":"$i"}""")
          .mkString("""{"events":[""", ",", "]}"))
      }
      graft.adapters.RemoteAdapter(transport).apply(ev, "body")
        .select(e, col("event_index"),
          element_at(col("event_params"), "aid").as("aid"),
          element_at(col("event_params"), "idx").as("idx"),
          col("adapter_failure"))
        .orderBy("event_id", "event_index")
    },

    "bad_rows_cp_format" -> { (sp, dir) =>
      // the LOADER failure channel (reference loaders → BadRow
      // .CPFormatViolation, ThriftLoader.scala:71): planted malformed
      // collector TSV lines (garbage timestamp on %9==2, no tabs at all on
      // %9==4) become collector_payload_format_violation envelopes with the
      // raw line base64'd as the replay payload; good lines parse through.
      // Lines stay under 57 bytes so base64 has a single, chunking-free
      // encoding on both engines.
      val e = col("event_id")
      val s = (c: Column) => c.cast("string")
      val line =
        when(e % 9 === 2, concat(lit("x\t1.2.3.4\tua\thttps://s/p\tpv\tq="), s(e)))
          .when(e % 9 === 4, concat(lit("junk line "), s(e)))
          .otherwise(concat(col("ts_us").cast("string"),
            lit("\t1.2.3.4\tua\thttps://s/p\tpv\tq="), s(e)))
      val lines = Tables.events(sp, dir).select(line.as("value"))
      val (_, bad) = graft.sources.Sources.collectorTsvSplit(lines, lit(EtlUs))
      bad.orderBy("line")
    },

    "bad_rows_resubmit" -> { (sp, dir) =>
      // the recovery job's REPLAY half (triage decides, this recovers):
      // read the emitted CPFormatViolation envelopes, base64-decode the
      // replay payload, apply the recovery transform (here: repair the
      // garbage timestamp class), and push the lines BACK through the
      // loader — repaired lines parse good, the no-tabs class stays bad.
      val e = col("event_id")
      val s = (c: Column) => c.cast("string")
      val line =
        when(e % 9 === 2, concat(lit("x\t1.2.3.4\tua\thttps://s/p\tpv\tq="), s(e)))
          .when(e % 9 === 4, concat(lit("junk line "), s(e)))
          .otherwise(concat(col("ts_us").cast("string"),
            lit("\t1.2.3.4\tua\thttps://s/p\tpv\tq="), s(e)))
      val lines = Tables.events(sp, dir).select(line.as("value"))
      val (_, bad) = graft.sources.Sources.collectorTsvSplit(lines, lit(EtlUs))
      val replayed = bad.select(
        unbase64(get_json_object(col("bad_row"), "$.data.payload")).cast("string").as("value"))
      val repaired = replayed.select(
        regexp_replace(col("value"), "^x\t", "1704067200000000\t").as("value"))
      val (good2, bad2) = graft.sources.Sources.collectorTsvSplit(repaired, lit(EtlUs))
      good2.select(lit(true).as("recovered"))
        .unionByName(bad2.select(lit(false).as("recovered")))
        .groupBy("recovered").agg(count(lit(1)).as("n"))
        .orderBy("recovered")
    },

    "failed_events_out" -> { (sp, dir) =>
      // the reference's emitFailed INCOMPLETE-EVENTS stream
      // (EtlPipeline.scala:63, Failure.scala:34 "failure entities will be
      // attached to failed events as derived contexts"): failed events keep
      // their partially-enriched payload and carry one failure/1-0-0 SDJ
      // per failure in derived_contexts. The `event` column proves the
      // partial enrichment survives (null only where the failure WAS the
      // event-type mapping).
      val enriched = pipe.run(planted(sp, dir))
      enriched.filter(size(col("bad_row_errors")) > 0)
        .select(col("event_id"), col("event"),
          BadRows.failureSdjsJson(col("bad_row_errors"), lit(EtlUs)).as("derived_contexts"))
        .orderBy("event_id")
    },

    "ip_isp_lookup" -> { (sp, dir) =>
      // the ISP segment of ip_lookups (reference IpLookupsEnrichment →
      // atomic ip_isp): a range lookup like geo/asn. 64 MiB blocks
      // over the synthetic IPv4 space; every 5th block is deliberately
      // unmapped so the lookup's miss path is exercised.
      val b = IspBlock
      val ranges = (0 to 55).filter(_ % 5 != 2)
        .map(i => (i * b, i * b + b - 1, s"ISP-$i"))
      val facts = Synth.withRaw(Tables.events(sp, dir))
        .select(col("event_id"), col("ip").as("user_ipaddress"))
      graft.enrich.IpSegmentLookup("isp", ranges)(facts)
        .select(col("event_id"), col("ip_isp"))
        .orderBy("event_id")
    }
  )

  /** 64 MiB IPv4 blocks shared by the ip_isp_lookup query and its twin. */
  private val IspBlock = 1L << 26

  // ---- DuckDB twins ----

  /** FailureContext tail shared by every message (data null, fixed etl
    * timestamp, processor identity). */
  private val Tail =
    s""","data":null,"timestamp":"$Iso","componentName":"${BadRows.Artifact}","componentVersion":"${BadRows.Version}"}"""

  private def ctx(failureType: String, message: String, schemaSql: String): String =
    s"""concat('{"failureType":"$failureType","errors":[{"message":"$message"}],"schema":', $schemaSql, '$Tail')"""

  /** The same context wrapped as a failure/1-0-0 SDJ (failed-events form). */
  private def sdj(failureType: String, message: String, schemaSql: String): String =
    s"""concat('{"schema":"${BadRows.FailureSchemaUri}","data":', ${ctx(failureType, message, schemaSql)}, '}')"""

  val oracles: Map[String, String] = Map(
    "bad_rows_out" ->
      s"""WITH base AS (
         |  SELECT event_id,
         |    CASE WHEN event_id % 7 = 1 THEN 'zz' ELSE 'pv' END AS event_code,
         |    CASE WHEN event_id % 7 = 3 THEN '$UnknownUri'
         |         ELSE 'iglu:com.acme/order/jsonschema/1-0-0' END AS schema_str,
         |    CASE WHEN event_id % 7 = 5 THEN '{"qty":"oops"}'
         |         WHEN event_id % 7 = 6 THEN concat('{"sku":"sku', event_id % 40, '","qty":"oops"}')
         |         ELSE concat('{"sku":"sku', event_id % 40, '","qty":', event_id % 9, '}') END AS up
         |  FROM events
         |  WHERE event_id % 7 IN (1, 3, 5, 6)),
         |msgs AS (
         |  SELECT *,
         |    CASE event_id % 7
         |      WHEN 1 THEN ${ctx("EnrichmentError: tracker_transform", "unknown event code", "'null'")}
         |      WHEN 3 THEN ${ctx("ResolutionError", "schema_unknown", s"concat('\"', schema_str, '\"')")}
         |      WHEN 5 THEN concat(${ctx("ValidationError", "missing_field sku", s"'\"$OrderUri\"'")}, ',',
         |                         ${ctx("ValidationError", "type_violation qty", s"'\"$OrderUri\"'")})
         |      WHEN 6 THEN ${ctx("ValidationError", "type_violation qty", s"'\"$OrderUri\"'")}
         |    END AS messages
         |  FROM base)
         |SELECT event_id,
         |  concat('{"schema":"',
         |    CASE WHEN event_id % 7 = 1 THEN '${BadRows.EnvelopeSchemaUri}'
         |         ELSE '${BadRows.SchemaViolationsUri}' END, '",',
         |    '"data":{"processor":{"artifact":"${BadRows.Artifact}","version":"${BadRows.Version}"},',
         |    '"failure":{"timestamp":"$Iso","messages":[', messages, ']},',
         |    '"payload":{"event_id":', event_id, ',"event_code":"', event_code,
         |    '","schema_str":"', schema_str, '","up":"', replace(up, '"', '\\"'), '"}}}') AS bad_row
         |FROM msgs ORDER BY event_id""".stripMargin,

    "bad_rows_triage" ->
      s"""SELECT failure_type, schema, reason, component, CAST(count(*) AS BIGINT) AS n
         |FROM (
         |  SELECT 'EnrichmentError: tracker_transform' AS failure_type, NULL AS schema,
         |         'unknown event code' AS reason, '${BadRows.Artifact}' AS component
         |  FROM events WHERE event_id % 7 = 1
         |  UNION ALL SELECT 'ResolutionError', '$UnknownUri', 'schema_unknown', '${BadRows.Artifact}'
         |  FROM events WHERE event_id % 7 = 3
         |  UNION ALL SELECT 'ValidationError', '$OrderUri', 'missing_field sku', '${BadRows.Artifact}'
         |  FROM events WHERE event_id % 7 = 5
         |  UNION ALL SELECT 'ValidationError', '$OrderUri', 'type_violation qty', '${BadRows.Artifact}'
         |  FROM events WHERE event_id % 7 IN (5, 6)
         |) GROUP BY 1, 2, 3, 4
         |ORDER BY failure_type, reason""".stripMargin,

    "adapter_remote" ->
      """WITH base AS (
        |  SELECT event_id, event_id % 3 + 1 AS n FROM events),
        |ok AS (
        |  SELECT event_id, i AS event_index,
        |    concat('app-', event_id % 5) AS aid, CAST(i AS VARCHAR) AS idx,
        |    CAST(NULL AS VARCHAR) AS adapter_failure
        |  FROM (
        |    SELECT event_id, n, CAST(0 AS INTEGER) AS i FROM base
        |    UNION ALL SELECT event_id, n, CAST(1 AS INTEGER) FROM base WHERE n > 1
        |    UNION ALL SELECT event_id, n, CAST(2 AS INTEGER) FROM base WHERE n > 2)
        |  WHERE event_id % 13 != 0 AND event_id % 11 != 0),
        |bad AS (
        |  SELECT event_id, CAST(NULL AS INTEGER) AS event_index,
        |    CAST(NULL AS VARCHAR) AS aid, CAST(NULL AS VARCHAR) AS idx,
        |    CASE WHEN event_id % 13 = 0
        |         THEN '[REMOTE_ADAPTER] could not get response from remote adapter: timeout'
        |         ELSE '[REMOTE_ADAPTER] response could not be decoded as a list of json objects'
        |    END AS adapter_failure
        |  FROM base WHERE event_id % 13 = 0 OR event_id % 11 = 0)
        |SELECT * FROM (SELECT * FROM ok UNION ALL SELECT * FROM bad)
        |ORDER BY event_id, event_index""".stripMargin,

    "bad_rows_cp_format" ->
      s"""WITH base AS (
         |  SELECT CASE WHEN event_id % 9 = 2
         |    THEN concat('x', chr(9), '1.2.3.4', chr(9), 'ua', chr(9), 'https://s/p', chr(9), 'pv', chr(9), 'q=', event_id)
         |    ELSE concat('junk line ', event_id) END AS line
         |  FROM events WHERE event_id % 9 IN (2, 4))
         |SELECT line,
         |  concat('{"schema":"${BadRows.CpFormatSchemaUri}",',
         |    '"data":{"processor":{"artifact":"${BadRows.Artifact}","version":"${BadRows.Version}"},',
         |    '"failure":{"timestamp":"$Iso","loader":"tsv",',
         |    '"message":{"error":"error deserializing raw event: line does not parse as collector TSV"}},',
         |    '"payload":"', to_base64(encode(line)), '"}}') AS bad_row
         |FROM base ORDER BY line""".stripMargin,

    "bad_rows_resubmit" ->
      // repaired garbage-ts lines (%9==2) parse good on replay; the
      // no-tabs class (%9==4) stays bad
      """SELECT recovered, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT event_id % 9 = 2 AS recovered FROM events
        |  WHERE event_id % 9 IN (2, 4))
        |GROUP BY 1 ORDER BY recovered""".stripMargin,

    "failed_events_out" ->
      s"""WITH base AS (
         |  SELECT event_id,
         |    CASE WHEN event_id % 7 = 1 THEN NULL ELSE 'page_view' END AS event,
         |    CASE WHEN event_id % 7 = 3 THEN '$UnknownUri'
         |         ELSE 'iglu:com.acme/order/jsonschema/1-0-0' END AS schema_str
         |  FROM events
         |  WHERE event_id % 7 IN (1, 3, 5, 6))
         |SELECT event_id, event,
         |  concat('[',
         |    CASE event_id % 7
         |      WHEN 1 THEN ${sdj("EnrichmentError: tracker_transform", "unknown event code", "'null'")}
         |      WHEN 3 THEN ${sdj("ResolutionError", "schema_unknown", s"concat('\"', schema_str, '\"')")}
         |      WHEN 5 THEN concat(${sdj("ValidationError", "missing_field sku", s"'\"$OrderUri\"'")}, ',',
         |                         ${sdj("ValidationError", "type_violation qty", s"'\"$OrderUri\"'")})
         |      WHEN 6 THEN ${sdj("ValidationError", "type_violation qty", s"'\"$OrderUri\"'")}
         |    END, ']') AS derived_contexts
         |FROM base ORDER BY event_id""".stripMargin,

    "ip_isp_lookup" -> Synth.withCte(
      s"""SELECT event_id,
         |  CASE WHEN (ipnum // $IspBlock) % 5 = 2 THEN NULL
         |       ELSE concat('ISP-', ipnum // $IspBlock) END AS ip_isp
         |FROM (
         |  SELECT event_id,
         |    (event_id % 223 + 1) * 16777216 + ((event_id*7) % 256) * 65536
         |      + ((event_id*13) % 256) * 256 + (event_id*29) % 256 AS ipnum
         |  FROM raw) t ORDER BY event_id""".stripMargin)
  )
}
