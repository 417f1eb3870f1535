package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-15 batch #1 — runtime JSON-Schema compilation.
  *
  *  - `schema_validate_dynamic`: the reference resolves ANY schema from an
  *    Iglu registry at runtime and validates against it (reference
  *    `modules/common/.../utils/IgluUtils.scala:42`); graft's static
  *    `schema_validate` key uses a hand-registered FieldSpec table. This
  *    key closes the gap end-to-end at the query surface: the registry
  *    arrives as DATA — a bounded (schema_uri, schema_doc) config relation
  *    whose documents are JSON Schema (draft-4 subset) TEXT — is collected
  *    on the driver (the dims pattern: config is small, events are big;
  *    executors never parse schemas), compiled to FieldSpec predicate rows
  *    by `IgluResolver.compileFieldSpecs`, and the resulting codegen'd
  *    predicate chain (`enrich.SchemaValidate`) validates a planted
  *    self-describing event stream spanning the full failure taxonomy:
  *    schema_unknown / missing_field / type_violation / enum_violation /
  *    pattern_violation / range_violation / items_violation /
  *    length_violation / unknown_key, plus a second OPEN schema proving
  *    multi-schema registries compile side by side. At 100 TB the shape is
  *    unchanged: schema compile is O(registry) on the driver, the event
  *    scan is one codegen'd pass, no shuffle at all before the ordered
  *    dump.
  */
object Queries200 extends QuerySet {
  private[queries] val PvSchema = "iglu:com.acme/product_view/jsonschema/1-0-0"
  private[queries] val CoSchema = "iglu:com.acme/checkout/jsonschema/2-0-0"
  private val UnknownSchema = "iglu:com.unknown/mystery/jsonschema/1-0-0"

  /** The product_view JSON Schema document — a closed schema exercising
    * every predicate the compiler supports (required / type / enum /
    * pattern / bounds / nested required / array items + maxItems /
    * additionalProperties:false). */
  private[graft] val PvDoc =
    """{"type":"object",
      |"properties":{
      |  "pid":{"type":"string","pattern":"p[0-9]+"},
      |  "price":{"type":"integer","minimum":0,"maximum":100000},
      |  "cat":{"type":"string","enum":["a","b","c"]},
      |  "meta":{"type":"object","properties":{"src":{"type":"string"}},"required":["src"]},
      |  "tags":{"type":"array","items":{"type":"integer"},"maxItems":3}},
      |"required":["pid","price"],
      |"additionalProperties":false}""".stripMargin

  /** The checkout document — an OPEN second schema (no
    * additionalProperties clause) so the multi-schema registry path and
    * the open-vs-closed distinction are both on the hook. */
  private[graft] val CoDoc =
    """{"type":"object",
      |"properties":{"oid":{"type":"integer"},"total":{"type":"number"}},
      |"required":["oid"]}""".stripMargin

  /** Planted event cycle (one violation per bad case, so first_error IS
    * the verdict): e%13 = 0 missing pid, 1 price type, 2 unknown schema,
    * 3 cat enum, 4 pid pattern, 5 price range, 6 nested meta.src miss,
    * 7 tags element not integer, 8 undeclared key on the closed schema,
    * 9 tags over maxItems, 10 checkout valid, 11 checkout missing oid,
    * else product_view valid (parameterized). */
  private def schemaStr(e: Column): Column =
    when(e % 13 === 2, lit(UnknownSchema))
      .when(e % 13 === 10 || e % 13 === 11, lit(CoSchema))
      .otherwise(lit(PvSchema))

  private def dataJson(e: Column): Column = {
    val s = (c: Column) => c.cast("string")
    val catCycle = when(e % 3 === 0, lit("a")).when(e % 3 === 1, lit("b")).otherwise(lit("c"))
    when(e % 13 === 0, lit("""{"price":2,"cat":"a","meta":{"src":"web"}}"""))
      .when(e % 13 === 1, lit("""{"pid":"p1","price":"x","cat":"a","meta":{"src":"web"}}"""))
      .when(e % 13 === 3, lit("""{"pid":"p1","price":2,"cat":"z","meta":{"src":"web"}}"""))
      .when(e % 13 === 4, lit("""{"pid":"Q9","price":2,"cat":"a","meta":{"src":"web"}}"""))
      .when(e % 13 === 5, lit("""{"pid":"p1","price":999999,"cat":"a","meta":{"src":"web"}}"""))
      .when(e % 13 === 6, lit("""{"pid":"p1","price":2,"cat":"a","meta":{}}"""))
      .when(e % 13 === 7, lit("""{"pid":"p1","price":2,"cat":"a","meta":{"src":"web"},"tags":[1,"x"]}"""))
      .when(e % 13 === 8, lit("""{"pid":"p1","price":2,"cat":"a","meta":{"src":"web"},"extra":true}"""))
      .when(e % 13 === 9, lit("""{"pid":"p1","price":2,"cat":"a","meta":{"src":"web"},"tags":[1,2,3,4]}"""))
      .when(e % 13 === 10, concat(lit("""{"oid":"""), s(e % 1000), lit(""","total":9.5}""")))
      .when(e % 13 === 11, lit("""{"total":1.5}"""))
      .otherwise(concat(
        lit("""{"pid":"p"""), s(e % 50), lit("""","price":"""), s(e % 1000),
        lit(""","cat":""""), catCycle, lit("""","meta":{"src":"web"},"tags":["""),
        s(e % 5), lit(""",7]}""")))
  }

  val defs: Map[String, Q] = Map(
    "schema_validate_dynamic" -> { (sp, dir) =>
      // the runtime registry: JSON Schema DOCUMENTS as a bounded config
      // relation, compiled driver-side — never per row, never on executors
      import sp.implicits._
      val registry = Seq((PvSchema, PvDoc), (CoSchema, CoDoc))
        .toDF("schema_uri", "schema_doc")
      val compiled = registry.collect().map { r =>
        r.getString(0) -> graft.enrich.IgluResolver.compileFieldSpecs(r.getString(1))
      }
      val specs = compiled.map { case (k, (fs, _)) => k -> fs }.toMap
      val closed = compiled.collect { case (k, (_, c)) if c => k }.toSet
      val base = Synth.withRaw(Tables.events(sp, dir))
        .select(col("event_id"))
        .withColumn("schema_str", schemaStr(col("event_id")))
        .withColumn("data_json", dataJson(col("event_id")))
      graft.enrich.SchemaValidate("data_json", "schema_str", specs, closed)(base)
        .select(col("event_id"), col("schema_str"),
          (size(col("bad_row_errors")) === 0).as("valid"),
          size(col("bad_row_errors")).cast("bigint").as("n_errors"),
          expr("try_element_at(bad_row_errors, 1).failure_type").as("first_type"),
          expr("try_element_at(bad_row_errors, 1).message").as("first_msg"))
        .orderBy("event_id")
    }
  )

  val oracles: Map[String, String] = Map(
    "schema_validate_dynamic" -> Synth.withCte(
      s"""SELECT event_id, schema_str,
         |  first_type IS NULL AS valid,
         |  CAST(CASE WHEN first_type IS NULL THEN 0 ELSE 1 END AS BIGINT) AS n_errors,
         |  first_type, first_msg
         |FROM (
         |  SELECT event_id, schema_str,
         |    str_split(err, '|')[1] AS first_type, str_split(err, '|')[2] AS first_msg
         |  FROM (
         |    SELECT event_id, schema_str,
         |      CASE
         |        WHEN schema_str IS NOT NULL AND schema_str NOT IN ('$PvSchema', '$CoSchema')
         |          THEN 'schema_unknown|schema_unknown'
         |        WHEN is_pv AND pid IS NULL THEN 'missing_field|missing_field pid'
         |        WHEN is_pv AND pid IS NOT NULL AND NOT regexp_matches(pid, '^(p[0-9]+)$$')
         |          THEN 'pattern_violation|pattern_violation pid'
         |        WHEN is_pv AND price_raw IS NULL THEN 'missing_field|missing_field price'
         |        WHEN is_pv AND price IS NULL THEN 'type_violation|type_violation price'
         |        WHEN is_pv AND (price < 0 OR price > 100000) THEN 'range_violation|range_violation price'
         |        WHEN is_pv AND cat IS NOT NULL AND cat NOT IN ('a','b','c')
         |          THEN 'enum_violation|enum_violation cat'
         |        WHEN is_pv AND meta_src IS NULL THEN 'missing_field|missing_field meta.src'
         |        WHEN is_pv AND tags_present AND tags_bad THEN 'items_violation|items_violation tags'
         |        WHEN is_pv AND tags_present AND tags_len > 3 THEN 'length_violation|length_violation tags'
         |        WHEN is_pv AND unknown_key THEN 'unknown_key|unknown_key'
         |        WHEN is_co AND oid_raw IS NULL THEN 'missing_field|missing_field oid'
         |        WHEN is_co AND oid IS NULL THEN 'type_violation|type_violation oid'
         |      END AS err
         |    FROM (
         |      SELECT event_id, schema_str,
         |        schema_str = '$PvSchema' AS is_pv,
         |        schema_str = '$CoSchema' AS is_co,
         |        json_extract_string(data_json, '$$.pid') AS pid,
         |        json_extract_string(data_json, '$$.price') AS price_raw,
         |        TRY_CAST(json_extract_string(data_json, '$$.price') AS BIGINT) AS price,
         |        json_extract_string(data_json, '$$.cat') AS cat,
         |        json_extract_string(data_json, '$$.meta.src') AS meta_src,
         |        json_extract(data_json, '$$.tags') IS NOT NULL AS tags_present,
         |        -- bounded literal-index probe (4 covers this universe's max
         |        -- planted tags length; the Spark side probes 8, same verdicts)
         |        (json_extract(data_json, '$$.tags[0]') IS NOT NULL AND TRY_CAST(json_extract_string(data_json, '$$.tags[0]') AS BIGINT) IS NULL)
         |          OR (json_extract(data_json, '$$.tags[1]') IS NOT NULL AND TRY_CAST(json_extract_string(data_json, '$$.tags[1]') AS BIGINT) IS NULL)
         |          OR (json_extract(data_json, '$$.tags[2]') IS NOT NULL AND TRY_CAST(json_extract_string(data_json, '$$.tags[2]') AS BIGINT) IS NULL)
         |          OR (json_extract(data_json, '$$.tags[3]') IS NOT NULL AND TRY_CAST(json_extract_string(data_json, '$$.tags[3]') AS BIGINT) IS NULL) AS tags_bad,
         |        json_array_length(json_extract(data_json, '$$.tags')) AS tags_len,
         |        len(list_filter(json_keys(data_json), k -> k NOT IN ('pid','price','cat','meta','tags'))) > 0 AS unknown_key,
         |        json_extract_string(data_json, '$$.oid') AS oid_raw,
         |        TRY_CAST(json_extract_string(data_json, '$$.oid') AS BIGINT) AS oid
         |      FROM (
         |        SELECT event_id,
         |          CASE WHEN event_id % 13 = 2 THEN '$UnknownSchema'
         |               WHEN event_id % 13 IN (10, 11) THEN '$CoSchema'
         |               ELSE '$PvSchema' END AS schema_str,
         |          CASE WHEN event_id % 13 = 0 THEN '{"price":2,"cat":"a","meta":{"src":"web"}}'
         |               WHEN event_id % 13 = 1 THEN '{"pid":"p1","price":"x","cat":"a","meta":{"src":"web"}}'
         |               WHEN event_id % 13 = 3 THEN '{"pid":"p1","price":2,"cat":"z","meta":{"src":"web"}}'
         |               WHEN event_id % 13 = 4 THEN '{"pid":"Q9","price":2,"cat":"a","meta":{"src":"web"}}'
         |               WHEN event_id % 13 = 5 THEN '{"pid":"p1","price":999999,"cat":"a","meta":{"src":"web"}}'
         |               WHEN event_id % 13 = 6 THEN '{"pid":"p1","price":2,"cat":"a","meta":{}}'
         |               WHEN event_id % 13 = 7 THEN '{"pid":"p1","price":2,"cat":"a","meta":{"src":"web"},"tags":[1,"x"]}'
         |               WHEN event_id % 13 = 8 THEN '{"pid":"p1","price":2,"cat":"a","meta":{"src":"web"},"extra":true}'
         |               WHEN event_id % 13 = 9 THEN '{"pid":"p1","price":2,"cat":"a","meta":{"src":"web"},"tags":[1,2,3,4]}'
         |               WHEN event_id % 13 = 10 THEN concat('{"oid":', event_id % 1000, ',"total":9.5}')
         |               WHEN event_id % 13 = 11 THEN '{"total":1.5}'
         |               ELSE concat('{"pid":"p', event_id % 50, '","price":', event_id % 1000,
         |                           ',"cat":"',
         |                           CASE WHEN event_id % 3 = 0 THEN 'a'
         |                                WHEN event_id % 3 = 1 THEN 'b' ELSE 'c' END,
         |                           '","meta":{"src":"web"},"tags":[', event_id % 5, ',7]}')
         |          END AS data_json
         |        FROM raw) t0) t1) t2) t3
         |ORDER BY event_id""".stripMargin)
  )
}
