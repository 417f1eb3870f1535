package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Tables
import graft.adapters.{RedirectAdapter, Tp2Adapter}
import graft.sources.ThriftPayload
import graft.sources.ThriftPayload.CollectorPayloadT

/** SURVEY §2 batch 8 (round 3): the real-traffic loader/adapter surface —
  * Thrift collector payloads (reference `loaders/ThriftLoader.scala:57`),
  * the Snowplow Tp2 POST adapter and the Redirect adapter
  * (`adapters/registry/snowplow/`), and Iglu-style schema validation with
  * typed bad rows (`utils/IgluUtils.scala:42`).
  */
object Queries8 extends QuerySet {
  private val CollectorSchema =
    "iglu:com.snowplowanalytics.snowplow/CollectorPayload/thrift/1-0-0"

  /** add_to_cart spec the schema_validate query checks against — registered
    * as an Iglu SchemaCriterion with a wildcard addition, so the planted
    * `1-0-1` minor-version events resolve to it instead of flagging
    * schema_unknown (reference `utils/IgluUtils.scala` SchemaCriterion). */
  private val KnownSchema = "iglu:com.acme/add_to_cart/jsonschema/1-0-0"
  private val KnownSchemaV101 = "iglu:com.acme/add_to_cart/jsonschema/1-0-1"
  private val KnownCriterion = "iglu:com.acme/add_to_cart/jsonschema/1-0-*"
  /** The anchored RE2 the criterion compiles to, shared verbatim with the
    * DuckDB twin. */
  private val KnownCriterionRe = graft.enrich.SchemaCriterion.regexFor(KnownCriterion)
  private val UnknownSchema = "iglu:com.unknown/mystery/jsonschema/1-0-0"
  private[queries] val GeoCtxSchema = "iglu:com.snowplowanalytics.snowplow/geolocation_context/jsonschema/1-1-0"
  private[queries] val CliCtxSchema = "iglu:com.snowplowanalytics.snowplow/client_session/jsonschema/1-0-1"

  /** The planted contexts array (shared by contexts_validate and
    * context_schema_census): e%9==0 an unknown-schema context, e%9==1 a
    * known context missing a required field, e%9==2 three contexts (the
    * third valid) — reference utils/IgluUtils.scala:71
    * extractAndValidateInputContexts. */
  private[queries] def plantedContexts(e: Column): Column = {
    val s = (c: Column) => c.cast("string")
    val geoCtx = concat(
      lit("{\"schema\":\"" + GeoCtxSchema + "\",\"data\":{\"latitude\":"), s(e % 90),
      lit(".5,\"longitude\":"), s(e % 180), lit(".25}}"))
    val cliGood = concat(
      lit("{\"schema\":\"" + CliCtxSchema + "\",\"data\":{\"userId\":\"u"), s(e % 50),
      lit("\",\"sessionId\":\"s"), s(e % 500), lit("\"}}"))
    val cliBad = concat(
      lit("{\"schema\":\"" + CliCtxSchema + "\",\"data\":{\"userId\":\"u"), s(e % 50), lit("\"}}"))
    val unknownCtx = lit("{\"schema\":\"iglu:com.x/y/jsonschema/1-0-0\",\"data\":{\"k\":1}}")
    when(e % 9 === 0, concat(lit("["), geoCtx, lit(","), unknownCtx, lit("]")))
      .when(e % 9 === 1, concat(lit("["), cliBad, lit("]")))
      .when(e % 9 === 2, concat(lit("["), geoCtx, lit(","), cliGood, lit(","), geoCtx, lit("]")))
      .otherwise(concat(lit("["), geoCtx, lit(","), cliGood, lit("]")))
  }

  /** (event_id, contexts) relation over `raw` — the DuckDB twin of
    * [[plantedContexts]]; ONE spelling shared by both oracles. */
  private[queries] val ContextsRelSql: String =
    s"""SELECT event_id,
       |        CASE WHEN event_id % 9 = 0 THEN concat('[', geo, ',', unk, ']')
       |             WHEN event_id % 9 = 1 THEN concat('[', clibad, ']')
       |             WHEN event_id % 9 = 2 THEN concat('[', geo, ',', cligood, ',', geo, ']')
       |             ELSE concat('[', geo, ',', cligood, ']') END AS contexts
       |      FROM (
       |        SELECT event_id,
       |          concat('{"schema":"$GeoCtxSchema","data":{"latitude":', event_id % 90,
       |                 '.5,"longitude":', event_id % 180, '.25}}') AS geo,
       |          concat('{"schema":"$CliCtxSchema","data":{"userId":"u', event_id % 50,
       |                 '","sessionId":"s', event_id % 500, '"}}') AS cligood,
       |          concat('{"schema":"$CliCtxSchema","data":{"userId":"u', event_id % 50, '"}}') AS clibad,
       |          '{"schema":"iglu:com.x/y/jsonschema/1-0-0","data":{"k":1}}' AS unk
       |        FROM raw) t0""".stripMargin

  val defs: Map[String, Q] = Map(
    "thrift_payload_parse" -> { (sp, dir) =>
      import sp.implicits._
      // distributed round trip: synthesize collector fields → serialize each
      // row to CollectorPayload Thrift bytes → decode with the loader. The
      // oracle emits the expected fields directly from the same synth
      // formulas, so any asymmetry between writer and reader shows up as a
      // value mismatch. Byte-level golden vectors live in SourcesSpec.
      val raw = Synth.withRaw(Tables.events(sp, dir))
        .select(col("event_id"), col("ip"), col("ua"), col("page_url"), col("collector_us"))
        .as[(Long, String, String, String, Long)]
      raw.map { case (id, ip, ua, url, us) =>
        val bytes = ThriftPayload.encode(CollectorPayloadT(
          schema = CollectorSchema,
          ipAddress = ip, timestamp = us / 1000, encoding = "UTF-8",
          collector = "ssc-2.9.0-kafka", userAgent = ua, refererUri = null,
          path = "/com.snowplowanalytics.snowplow/tp2",
          querystring = "e=pv&url=" + url, body = null,
          headers = Seq("User-Agent: " + ua, "Host: collector.example.com"),
          contentType = null, hostname = "collector.example.com", networkUserId = null))
        val p = ThriftPayload.decode(bytes)
        (id, p.schema, p.collector, p.ipAddress, p.timestamp, p.userAgent, p.path,
          p.querystring, p.hostname, p.headers.length)
      }.toDF("event_id", "p_schema", "p_collector", "p_ip", "p_ts_ms", "p_ua", "p_path",
          "p_qs", "p_hostname", "n_headers")
        .orderBy("event_id")
    },

    "adapter_tp2" -> { (sp, dir) =>
      val e = col("event_id")
      val s = (c: Column) => c.cast("string")
      // POST body: payload_data array of 2 events; body carries its own uid
      // that the querystring must override (reference: body.toMap ++ qs)
      val body = concat(
        lit("{\"schema\":\"iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4\",\"data\":[" +
          "{\"e\":\"pv\",\"url\":\"https://shop.example.com/p/"), s(e % 100),
        lit("\",\"uid\":\"bodyuid\"},{\"e\":\"se\",\"se_ac\":\"click\",\"se_la\":\"btn"), s(e % 7),
        lit("\"}]}"))
      val qs = concat(
        lit("uid=u"), s(col("user_id")), lit("&aid=shop"),
        when(e % 3 === 0, lit("&p=mob")).otherwise(lit("")))
      val in = Synth.withRaw(Tables.events(sp, dir))
        .select(col("event_id"), col("user_id"))
        .withColumn("body", body).withColumn("rqs", qs)
      Tp2Adapter(in, "body", "rqs")
        .select(
          col("event_id"), col("event_idx"), col("tp2_schema"),
          element_at(col("params"), "e").as("p_e"),
          element_at(col("params"), "url").as("p_url"),
          element_at(col("params"), "uid").as("p_uid"),
          element_at(col("params"), "se_ac").as("p_se_ac"),
          element_at(col("params"), "se_la").as("p_se_la"),
          element_at(col("params"), "aid").as("p_aid"),
          element_at(col("params"), "p").as("p_platform"))
        .orderBy("event_id", "event_idx")
    },

    "adapter_redirect" -> { (sp, dir) =>
      val e = col("event_id")
      val s = (c: Column) => c.cast("string")
      // r-tp2 redirect querystring; every 3rd event already carries e=pv →
      // the uri_redirect rides as a context instead of a new unstruct event
      val qs = concat(
        when(e % 3 === 0, lit("e=pv&")).otherwise(lit("")),
        lit("u=https://dest.example.com/p/"), s(e % 50),
        lit("&aid=shop"),
        when(e % 5 === 0, lit("&p=mob")).otherwise(lit("")))
      val in = Synth.withRaw(Tables.events(sp, dir))
        .select(col("event_id")).withColumn("rqs", qs)
      RedirectAdapter(in, "rqs")
        .select(col("event_id"), col("redirect_uri"), col("e"), col("ue_pr"),
          col("co"), col("tv"), col("p"))
        .orderBy("event_id")
    },

    "weather_asof_bucketed" -> { (sp, dir) =>
      // the time-bucketed as-of variant: same observations and semantics as
      // weather_asof, but partitioned (station, 6h-bucket) — parallelism
      // beyond key cardinality. The oracle is the SAME plain ASOF join:
      // bucketing must not change a single row.
      val obs = Queries19.weatherObs(sp)
      val ev = Tables.events(sp, dir)
        .select(col("event_id"), (col("user_id") % 10).as("station"), col("ts_us"))
      graft.operators.AsOfJoin
        .leftAsOfBucketed(ev, obs, Seq("station"), "ts_us", "obs_us", Seq("temp_dd"),
          bucketWidth = 6L * 3600L * 1000000L)
        .select(col("event_id"), col("station"), col("temp_dd"))
        .orderBy("event_id")
    },

    "pii_json_field" -> { (sp, dir) =>
      val e = col("event_id")
      val s = (c: Column) => c.cast("string")
      // a self-describing user context; the email INSIDE the JSON gets
      // hashed in place (reference pii JSONPath mode), the rest survives
      val ctx = concat(
        lit("{\"schema\":\"iglu:com.acme/user/jsonschema/1-0-0\",\"data\":{\"email\":\"u"), s(e % 50),
        lit("@example.com\",\"name\":\"user "), s(e % 20), lit("\",\"plan\":\"pro\"}}"))
      Synth.withRaw(Tables.events(sp, dir))
        .select(col("event_id"))
        .withColumn("ctx", ctx)
        .select(
          col("event_id"),
          graft.functions.EventF.pseudonymizeJsonField(col("ctx"), "$.data.email", "pepper").as("ctx_out"),
          graft.functions.EventF.pseudonymize(
            get_json_object(col("ctx"), "$.data.email"), "pepper").as("email_hash"))
        .orderBy("event_id")
    },

    "schema_validate" -> { (sp, dir) =>
      val e = col("event_id")
      val s = (c: Column) => c.cast("string")
      // synthesize self-describing unstruct payloads with planted violations
      // across the FULL bad-row taxonomy (reference utils/IgluUtils.scala:42
      // schema-unknown / schema-invalid, refined per JSON-Schema predicate):
      // e%11 == 0 missing required sku, 1 wrong-typed qty, 2 unknown schema,
      // 3 enum violation (status), 4 pattern violation (sku), 5 integer
      // bound violation (qty), 6 nested required miss (meta.src), 7 array
      // items violation (codes element not an integer — JSON-Schema
      // items.type), 8 undeclared top-level key (additionalProperties:false)
      val schemaStr = when(e % 11 === 2, lit(UnknownSchema))
        .when(e % 11 === 9, lit(KnownSchemaV101)) // minor version: criterion-resolved, valid
        .otherwise(lit(KnownSchema))
      val statusCycle = when(e % 3 === 0, lit("new")).when(e % 3 === 1, lit("paid")).otherwise(lit("refunded"))
      val dataJson =
        when(e % 11 === 0, lit("{\"qty\":2,\"status\":\"new\",\"meta\":{\"src\":\"web\"}}"))
          .when(e % 11 === 1, lit("{\"sku\":\"sku1\",\"qty\":\"oops\",\"status\":\"new\",\"meta\":{\"src\":\"web\"}}"))
          .when(e % 11 === 3, lit("{\"sku\":\"sku1\",\"qty\":2,\"status\":\"bogus\",\"meta\":{\"src\":\"web\"}}"))
          .when(e % 11 === 4, lit("{\"sku\":\"SKU-9\",\"qty\":2,\"status\":\"new\",\"meta\":{\"src\":\"web\"}}"))
          .when(e % 11 === 5, lit("{\"sku\":\"sku1\",\"qty\":9999,\"status\":\"new\",\"meta\":{\"src\":\"web\"}}"))
          .when(e % 11 === 6, lit("{\"sku\":\"sku1\",\"qty\":2,\"status\":\"new\",\"meta\":{}}"))
          .when(e % 11 === 7, lit("{\"sku\":\"sku1\",\"qty\":2,\"status\":\"new\",\"meta\":{\"src\":\"web\"},\"codes\":[1,\"x\",3]}"))
          .when(e % 11 === 8, lit("{\"sku\":\"sku1\",\"qty\":2,\"status\":\"new\",\"meta\":{\"src\":\"web\"},\"extra\":true}"))
          .otherwise(concat(
            lit("{\"sku\":\"sku"), s(e % 20), lit("\",\"qty\":"), s(e % 5),
            lit(",\"status\":\""), statusCycle, lit("\",\"meta\":{\"src\":\"web\"},\"codes\":["), s(e % 9), lit(",7]}")))
      val sku = get_json_object(col("data_json"), "$.sku")
      val qtyRaw = get_json_object(col("data_json"), "$.qty")
      val qty = expr("try_cast(get_json_object(data_json, '$.qty') AS BIGINT)")
      val status = get_json_object(col("data_json"), "$.status")
      val metaSrc = get_json_object(col("data_json"), "$.meta.src")
      // array items: bounded literal-index probe, element present but not an
      // integer (JSON-Schema items.type = integer on codes)
      val codesPresent = get_json_object(col("data_json"), "$.codes").isNotNull
      val codesBad = (0 until 4).map { i =>
        get_json_object(col("data_json"), s"$$.codes[$i]").isNotNull &&
          expr(s"try_cast(get_json_object(data_json, '$$.codes[$i]') AS BIGINT)").isNull
      }.reduce(_ || _)
      // additionalProperties: false on the cart schema
      val unknownKey = expr(
        "exists(json_object_keys(data_json), k -> NOT k IN ('sku','qty','status','meta','codes'))")
      // first-fail order = the SchemaValidate spec order: sku (missing,
      // pattern), qty (type, range), status (enum), meta.src (missing),
      // codes (items), then the closed-schema key sweep
      val badPairs: Seq[(Column, String, String)] = Seq(
        (!col("schema_str").rlike(KnownCriterionRe), "schema_unknown", null),
        (sku.isNull, "missing_field", "sku"),
        (!sku.rlike("^sku[0-9]+$"), "pattern_violation", "sku"),
        (qty.isNull && qtyRaw.isNotNull, "type_violation", "qty"),
        (qty < 0 || qty > 100, "range_violation", "qty"),
        (status.isNotNull && !status.isin("new", "paid", "refunded"), "enum_violation", "status"),
        (metaSrc.isNull, "missing_field", "meta.src"),
        (codesPresent && codesBad, "items_violation", "codes"),
        (unknownKey, "unknown_key", null))
      val badKind = badPairs.foldLeft(when(lit(false), lit(""))) {
        case (acc, (c, k, _)) => acc.when(coalesce(c, lit(false)), lit(k))
      }
      val badField = badPairs.foldLeft(when(lit(false), lit(""))) {
        case (acc, (c, _, f)) => acc.when(coalesce(c, lit(false)), lit(f).cast("string"))
      }
      Synth.withRaw(Tables.events(sp, dir))
        .select(col("event_id"))
        .withColumn("schema_str", schemaStr)
        .withColumn("data_json", dataJson)
        .select(
          col("event_id"), col("schema_str"),
          badKind.isNull.as("valid"),
          badKind.as("bad_kind"), badField.as("bad_field"),
          when(badKind.isNull, sku).as("sku"),
          when(badKind.isNull, qty).as("qty"))
        .orderBy("event_id")
    },

    "contexts_validate" -> { (sp, dir) =>
      val contexts = plantedContexts(col("event_id"))
      val enriched = graft.enrich.ContextsValidate("contexts", Map(
        GeoCtxSchema -> Seq("latitude", "longitude"),
        CliCtxSchema -> Seq("userId", "sessionId")))(
        Synth.withRaw(Tables.events(sp, dir))
          .select(col("event_id"))
          .withColumn("contexts", contexts))
      enriched.select(
        col("event_id"), col("ctx_count"), col("ctx_invalid_count"),
        col("ctx_first_bad_schema"),
        size(col("bad_row_errors")).as("n_errors"))
        .orderBy("event_id")
    }
  )

  val oracles: Map[String, String] = Map(
    "thrift_payload_parse" -> Synth.withCte(
      s"""SELECT event_id,
         |  '$CollectorSchema' AS p_schema,
         |  'ssc-2.9.0-kafka' AS p_collector,
         |  ip AS p_ip,
         |  collector_us // 1000 AS p_ts_ms,
         |  ua AS p_ua,
         |  '/com.snowplowanalytics.snowplow/tp2' AS p_path,
         |  concat('e=pv&url=', page_url) AS p_qs,
         |  'collector.example.com' AS p_hostname,
         |  2 AS n_headers
         |FROM raw ORDER BY event_id""".stripMargin),

    "adapter_tp2" -> Synth.withCte(
      """SELECT event_id, i - 1 AS event_idx,
        |  'iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4' AS tp2_schema,
        |  json_extract_string(ev, '$.e') AS p_e,
        |  json_extract_string(ev, '$.url') AS p_url,
        |  concat('u', user_id) AS p_uid,
        |  json_extract_string(ev, '$.se_ac') AS p_se_ac,
        |  json_extract_string(ev, '$.se_la') AS p_se_la,
        |  'shop' AS p_aid,
        |  CASE WHEN event_id % 3 = 0 THEN 'mob' END AS p_platform
        |FROM (
        |  SELECT event_id, user_id, i,
        |    json_extract(concat(
        |      '{"schema":"iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4","data":[',
        |      '{"e":"pv","url":"https://shop.example.com/p/', event_id % 100, '","uid":"bodyuid"},',
        |      '{"e":"se","se_ac":"click","se_la":"btn', event_id % 7, '"}]}'),
        |      concat('$.data[', i - 1, ']')) AS ev
        |  FROM raw CROSS JOIN (VALUES (1), (2)) n(i)) t
        |ORDER BY event_id, event_idx""".stripMargin),

    "adapter_redirect" -> Synth.withCte(
      """SELECT event_id,
        |  uri AS redirect_uri,
        |  CASE WHEN has_e THEN 'pv' ELSE 'ue' END AS e,
        |  CASE WHEN NOT has_e THEN concat(
        |    '{"schema":"iglu:com.snowplowanalytics.snowplow/unstruct_event/jsonschema/1-0-0",',
        |    '"data":{"schema":"iglu:com.snowplowanalytics.snowplow/uri_redirect/jsonschema/1-0-0",',
        |    '"data":{"uri":"', uri, '"}}}') END AS ue_pr,
        |  CASE WHEN has_e THEN concat(
        |    '{"schema":"iglu:com.snowplowanalytics.snowplow/contexts/jsonschema/1-0-0",',
        |    '"data":[{"schema":"iglu:com.snowplowanalytics.snowplow/uri_redirect/jsonschema/1-0-0",',
        |    '"data":{"uri":"', uri, '"}}]}') END AS co,
        |  'r-tp2' AS tv,
        |  CASE WHEN event_id % 5 = 0 THEN 'mob' ELSE 'web' END AS p
        |FROM (
        |  SELECT event_id, event_id % 3 = 0 AS has_e,
        |    concat('https://dest.example.com/p/', event_id % 50) AS uri
        |  FROM raw) t ORDER BY event_id""".stripMargin),

    "weather_asof_bucketed" ->
      s"""WITH ${Queries19.WeatherObsCteSql}, ev AS (
        |  SELECT event_id, user_id % 10 AS station, epoch_us(ts) AS ts_us FROM events
        |)
        |SELECT ev.event_id, ev.station, obs.temp_dd
        |FROM ev ASOF LEFT JOIN obs
        |  ON ev.station = obs.station AND obs.obs_us <= ev.ts_us
        |ORDER BY ev.event_id""".stripMargin,

    "pii_json_field" -> Synth.withCte(
      """SELECT event_id,
        |  concat('{"schema":"iglu:com.acme/user/jsonschema/1-0-0","data":{"email":"',
        |         sha256(concat('u', event_id % 50, '@example.com', 'pepper')),
        |         '","name":"user ', event_id % 20, '","plan":"pro"}}') AS ctx_out,
        |  sha256(concat('u', event_id % 50, '@example.com', 'pepper')) AS email_hash
        |FROM raw ORDER BY event_id""".stripMargin),

    "schema_validate" -> Synth.withCte(
      s"""SELECT event_id, schema_str,
         |  bad_kind IS NULL AS valid, bad_kind, bad_field,
         |  CASE WHEN bad_kind IS NULL THEN sku END AS sku,
         |  CASE WHEN bad_kind IS NULL THEN qty END AS qty
         |FROM (
         |  SELECT event_id, schema_str, sku, qty,
         |    CASE WHEN NOT regexp_matches(schema_str, '$KnownCriterionRe') THEN 'schema_unknown'
         |         WHEN sku IS NULL THEN 'missing_field'
         |         WHEN NOT regexp_matches(sku, '^sku[0-9]+$$') THEN 'pattern_violation'
         |         WHEN qty IS NULL AND qty_raw IS NOT NULL THEN 'type_violation'
         |         WHEN qty < 0 OR qty > 100 THEN 'range_violation'
         |         WHEN status IS NOT NULL AND status NOT IN ('new','paid','refunded') THEN 'enum_violation'
         |         WHEN meta_src IS NULL THEN 'missing_field'
         |         WHEN codes_present AND codes_bad THEN 'items_violation'
         |         WHEN unknown_key THEN 'unknown_key'
         |    END AS bad_kind,
         |    CASE WHEN NOT regexp_matches(schema_str, '$KnownCriterionRe') THEN NULL
         |         WHEN sku IS NULL THEN 'sku'
         |         WHEN NOT regexp_matches(sku, '^sku[0-9]+$$') THEN 'sku'
         |         WHEN qty IS NULL AND qty_raw IS NOT NULL THEN 'qty'
         |         WHEN qty < 0 OR qty > 100 THEN 'qty'
         |         WHEN status IS NOT NULL AND status NOT IN ('new','paid','refunded') THEN 'status'
         |         WHEN meta_src IS NULL THEN 'meta.src'
         |         WHEN codes_present AND codes_bad THEN 'codes'
         |         WHEN unknown_key THEN NULL
         |    END AS bad_field
         |  FROM (
         |    SELECT event_id, schema_str,
         |      json_extract_string(data_json, '$$.sku') AS sku,
         |      json_extract_string(data_json, '$$.qty') AS qty_raw,
         |      TRY_CAST(json_extract_string(data_json, '$$.qty') AS BIGINT) AS qty,
         |      json_extract_string(data_json, '$$.status') AS status,
         |      json_extract_string(data_json, '$$.meta.src') AS meta_src,
         |      json_extract(data_json, '$$.codes') IS NOT NULL AS codes_present,
         |      (json_extract(data_json, '$$.codes[0]') IS NOT NULL AND TRY_CAST(json_extract_string(data_json, '$$.codes[0]') AS BIGINT) IS NULL)
         |        OR (json_extract(data_json, '$$.codes[1]') IS NOT NULL AND TRY_CAST(json_extract_string(data_json, '$$.codes[1]') AS BIGINT) IS NULL)
         |        OR (json_extract(data_json, '$$.codes[2]') IS NOT NULL AND TRY_CAST(json_extract_string(data_json, '$$.codes[2]') AS BIGINT) IS NULL)
         |        OR (json_extract(data_json, '$$.codes[3]') IS NOT NULL AND TRY_CAST(json_extract_string(data_json, '$$.codes[3]') AS BIGINT) IS NULL) AS codes_bad,
         |      len(list_filter(json_keys(data_json), k -> k NOT IN ('sku','qty','status','meta','codes'))) > 0 AS unknown_key
         |    FROM (
         |      SELECT event_id,
         |        CASE WHEN event_id % 11 = 2 THEN '$UnknownSchema'
         |             WHEN event_id % 11 = 9 THEN '$KnownSchemaV101'
         |             ELSE '$KnownSchema' END AS schema_str,
         |        CASE WHEN event_id % 11 = 0 THEN '{"qty":2,"status":"new","meta":{"src":"web"}}'
         |             WHEN event_id % 11 = 1 THEN '{"sku":"sku1","qty":"oops","status":"new","meta":{"src":"web"}}'
         |             WHEN event_id % 11 = 3 THEN '{"sku":"sku1","qty":2,"status":"bogus","meta":{"src":"web"}}'
         |             WHEN event_id % 11 = 4 THEN '{"sku":"SKU-9","qty":2,"status":"new","meta":{"src":"web"}}'
         |             WHEN event_id % 11 = 5 THEN '{"sku":"sku1","qty":9999,"status":"new","meta":{"src":"web"}}'
         |             WHEN event_id % 11 = 6 THEN '{"sku":"sku1","qty":2,"status":"new","meta":{}}'
         |             WHEN event_id % 11 = 7 THEN '{"sku":"sku1","qty":2,"status":"new","meta":{"src":"web"},"codes":[1,"x",3]}'
         |             WHEN event_id % 11 = 8 THEN '{"sku":"sku1","qty":2,"status":"new","meta":{"src":"web"},"extra":true}'
         |             ELSE concat('{"sku":"sku', event_id % 20, '","qty":', event_id % 5,
         |                         ',"status":"',
         |                         CASE WHEN event_id % 3 = 0 THEN 'new'
         |                              WHEN event_id % 3 = 1 THEN 'paid' ELSE 'refunded' END,
         |                         '","meta":{"src":"web"},"codes":[', event_id % 9, ',7]}')
         |        END AS data_json
         |      FROM raw) t0) t1) t2
         |ORDER BY event_id""".stripMargin),

    "contexts_validate" -> Synth.withCte {
      // DuckDB twin of the bounded literal-path probe (3 is this universe's
      // max context count; the Spark side probes 8 and finds the same 3)
      def badAt(i: Int): String =
        s"""CASE WHEN json_extract(contexts, '$$[$i]') IS NULL THEN NULL
           |     WHEN (sch$i IS DISTINCT FROM '$GeoCtxSchema' AND sch$i IS DISTINCT FROM '$CliCtxSchema')
           |          OR (sch$i = '$GeoCtxSchema' AND (json_extract(contexts, '$$[$i].data.latitude') IS NULL
           |                                           OR json_extract(contexts, '$$[$i].data.longitude') IS NULL))
           |          OR (sch$i = '$CliCtxSchema' AND (json_extract(contexts, '$$[$i].data.userId') IS NULL
           |                                           OR json_extract(contexts, '$$[$i].data.sessionId') IS NULL))
           |     THEN sch$i END""".stripMargin
      s"""SELECT event_id,
         |  CAST(json_array_length(contexts) AS INTEGER) AS ctx_count,
         |  CAST((bad0 IS NOT NULL)::int + (bad1 IS NOT NULL)::int + (bad2 IS NOT NULL)::int AS INTEGER) AS ctx_invalid_count,
         |  coalesce(bad0, bad1, bad2) AS ctx_first_bad_schema,
         |  CASE WHEN bad0 IS NOT NULL OR bad1 IS NOT NULL OR bad2 IS NOT NULL THEN 1 ELSE 0 END AS n_errors
         |FROM (
         |  SELECT event_id, contexts, ${badAt(0)} AS bad0, ${badAt(1)} AS bad1, ${badAt(2)} AS bad2
         |  FROM (
         |    SELECT event_id, contexts,
         |      json_extract_string(contexts, '$$[0].schema') AS sch0,
         |      json_extract_string(contexts, '$$[1].schema') AS sch1,
         |      json_extract_string(contexts, '$$[2].schema') AS sch2
         |    FROM ($ContextsRelSql) t1) t2) t3
         |ORDER BY event_id""".stripMargin
    }
  )
}
