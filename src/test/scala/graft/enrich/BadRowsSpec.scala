package graft.enrich

import org.apache.spark.sql.functions._

/** BadRows: the reference's failed-events OUTPUT formats
  * (common/enrichments/Failure.scala toSDJ; bad-row envelope). Pins the
  * exact serialized bytes — key order, explicit nulls, escaping — because
  * downstream failed-events consumers parse these documents. */
class BadRowsSpec extends graft.SparkSpec {
  import spark.implicits._

  private val EtlUs = 1700000000000000L // 2023-11-14T22:13:20Z

  private def planted = {
    val df = Seq(("e1", "zz"), ("e2", "pv")).toDF("id", "event_code")
      .withColumn("platform_code", lit("web"))
      .withColumn("res", lit("800x600"))
      .withColumn("xff", lit(null).cast("string"))
    EnrichmentPipeline(Seq(TrackerTransform()))
      .badRowsJson(df, Seq("id", "event_code"), lit(EtlUs))
  }

  test("bad-row envelope: exact bytes — key order, explicit nulls, payload") {
    val rows = planted.select("id", "bad_row").collect()
    assert(rows.length == 1, "only the failed event reaches the bad stream")
    val expected =
      """{"schema":"iglu:com.snowplowanalytics.snowplow.badrows/enrichment_failures/jsonschema/2-0-0",""" +
        """"data":{"processor":{"artifact":"graft-enrich","version":"1.0.0"},""" +
        """"failure":{"timestamp":"2023-11-14T22:13:20Z","messages":[""" +
        """{"failureType":"EnrichmentError: tracker_transform","errors":[{"message":"unknown event code"}],""" +
        """"schema":null,"data":null,"timestamp":"2023-11-14T22:13:20Z",""" +
        """"componentName":"graft-enrich","componentVersion":"1.0.0"}]},""" +
        """"payload":{"id":"e1","event_code":"zz"}}}"""
    assert(rows(0).getString(1) == expected)
  }

  test("failure SDJs: the emitFailed derived-context form, one SDJ per entity") {
    val df = Seq(("doc", "iglu:com.acme/x/jsonschema/9-0-0")).toDF("up", "schema_str")
    val out = EnrichmentPipeline(Seq(
      SchemaValidate("up", "schema_str", Map("iglu:com.acme/x/jsonschema/1-0-*" -> Nil))))
      .run(df)
      .select(BadRows.failureSdjsJson(col("bad_row_errors"), lit(EtlUs)).as("sdjs"))
      .collect()(0).getString(0)
    assert(out.startsWith("""[{"schema":"iglu:com.snowplowanalytics.snowplow/failure/jsonschema/1-0-0","data":{"failureType":"ResolutionError""""))
    assert(out.contains(""""schema":"iglu:com.acme/x/jsonschema/9-0-0""""),
      "the violated schema key rides in the context")
  }

  test("envelope subtype: any schema violation → schema_violations, else enrichment_failures") {
    import org.apache.spark.sql.functions.lit
    // reference EnrichmentManager.createBadRow:127 — validation wins
    val df = Seq(("{}", "iglu:com.acme/x/jsonschema/9-0-0", "zz")).toDF("up", "schema_str", "event_code")
      .withColumn("platform_code", lit("web"))
      .withColumn("res", lit("800x600"))
      .withColumn("xff", lit(null).cast("string"))
    val mixed = EnrichmentPipeline(Seq(
      TrackerTransform(), // unknown event code → EnrichmentError entity
      SchemaValidate("up", "schema_str", Map("iglu:com.acme/x/jsonschema/1-0-*" -> Nil))))
      .badRowsJson(df, Seq("event_code"), lit(EtlUs)).collect()(0).getAs[String]("bad_row")
    assert(mixed.startsWith("""{"schema":"iglu:com.snowplowanalytics.snowplow.badrows/schema_violations/jsonschema/2-0-0""""),
      "a mixed failure set rides the schema_violations envelope (validation precedence)")
    assert(mixed.contains("EnrichmentError: tracker_transform"),
      "...but every failure context still rides inside it")
  }

  test("triage parses envelopes back into (failure_type, schema, reason, component)") {
    val t = BadRows.triage(planted, "bad_row").collect()(0)
    assert(t.getAs[String]("failure_type") == "EnrichmentError: tracker_transform")
    assert(t.getAs[String]("schema") == null)
    assert(t.getAs[String]("reason") == "unknown event code")
    assert(t.getAs[String]("component") == "graft-enrich")
    assert(t.getAs[String]("component_version") == "1.0.0")
  }

  test("withSplit: one pass, each side == split() cardinalities") {
    val df = (1L to 60L).toDF("id")
      .withColumn("event_code", when(col("id") % 6 === 0, lit("zz")).otherwise(lit("pv")))
      .withColumn("platform_code", lit("web"))
      .withColumn("res", lit("800x600"))
      .withColumn("xff", lit(null).cast("string"))
    val pipe = EnrichmentPipeline(Seq(TrackerTransform()))
    val (good, bad) = pipe.split(df)
    val (goodN, badN, envelopes) = pipe.withSplit(df) { (g, b) =>
      (g.count(), b.count(),
        b.select(col("id"), BadRows.badRowJson(col("bad_row_errors"),
          struct(col("id"), col("event_code")), lit(EtlUs)).as("bad_row")).collect())
    }
    assert(goodN == good.count() && goodN == 50)
    assert(badN == bad.count() && badN == 10)
    assert(envelopes.length == badN && envelopes.map(_.getLong(0)).distinct.length == badN,
      "every failed row carries exactly one envelope")
    envelopes.foreach { r =>
      assert(r.getString(1).contains(s""""payload":{"id":${r.getLong(0)},"event_code":"zz"}"""),
        s"envelope must replay its own row: ${r.getString(1)}")
    }
  }

  test("adapter-stage envelopes: AdapterFailures vs TrackerProtocolViolations subtype") {
    // the RemoteAdapter failure column feeds straight in
    val bad = Seq(("ev=7", "[REMOTE_ADAPTER] empty list of events")).toDF("body", "adapter_failure")
    def env(tp: Boolean) = bad.select(BadRows.adapterFailureJson(
      col("body"), "com.acme.hooks", "v1", col("adapter_failure"), lit(EtlUs),
      trackerProtocol = tp).as("j")).collect()(0).getString(0)
    val af = env(false)
    assert(af.startsWith("""{"schema":"iglu:com.snowplowanalytics.snowplow.badrows/adapter_failures/jsonschema/1-0-0""""))
    assert(af.contains(""""vendor":"com.acme.hooks","version":"v1""""))
    assert(af.contains(""""messages":[{"error":"[REMOTE_ADAPTER] empty list of events"}]"""))
    assert(af.endsWith(""""payload":"ev=7"}}"""))
    assert(env(true).contains("tracker_protocol_violations/jsonschema/1-0-0"))
  }

  test("multi-failure events keep enrichment order in the messages array") {
    val df = Seq(("{}", "iglu:com.acme/x/jsonschema/1-0-0")).toDF("up", "schema_str")
    val pipe = EnrichmentPipeline(Seq(
      SchemaValidate("up", "schema_str", Map("iglu:com.acme/x/jsonschema/1-0-*" -> Seq(
        FieldSpec("a", required = true), FieldSpec("b", required = true))))))
    val msgs = BadRows.triage(
      pipe.badRowsJson(df, Seq("up"), lit(EtlUs)), "bad_row")
      .select("reason").collect().map(_.getString(0)).toSeq
    assert(msgs == Seq("missing_field a", "missing_field b"))
  }
}
