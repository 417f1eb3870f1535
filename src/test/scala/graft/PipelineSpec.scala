package graft

import org.apache.spark.sql.functions._

import graft.enrich._
import graft.queries.{PipelineQuery, Synth}

class PipelineSpec extends SparkSpec {

  private def rawDf = {
    import spark.implicits._
    // minimal synthetic events table (same shape Tables.events produces)
    val ev = (0L until 100L).map(i =>
      (i, i % 20, "click", 10.5 + i, s"""{"k": ${i % 10}}""", 1704067200000000L + i * 1000000L))
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts_us")
    Synth.withRaw(ev)
  }

  test("default pipeline runs and produces atomic columns") {
    val out = PipelineQuery.pipeline.run(rawDf)
    val cols = out.columns.toSet
    for (c <- Seq("event", "platform", "derived_tstamp_us", "page_urlhost", "mkt_source",
                  "refr_medium", "br_family", "dvce_type", "geo_country", "base_amount_e8",
                  "event_fingerprint", "bad_row_errors"))
      assert(cols.contains(c), s"missing column $c")
    assert(out.count() == 100)
  }

  test("IpGeoLookup resolves both families when v6 ranges are configured") {
    import spark.implicits._
    val df = Seq(
      (1L, "1.0.0.1"),                       // v4 block 0
      (2L, "2001:db8:1:2:8000:0:0:1"),       // v6, top of the low-64 space
      (3L, "2001:db8:1:2::1"),               // shortened form → expandIpv6
      (4L, "2001:db8:9:9::1"),               // prefix not in the v6 table
      (5L, "not-an-ip")
    ).toDF("id", "user_ipaddress")
    val half = BigInt(1) << 63
    val geo = IpGeoLookup(
      ranges = Seq((0L, 1L << 27, "V4LAND")),
      v6Ranges = Seq(
        ("2001:db8:1:2", BigInt(0), half - 1, "V6LOW"),
        ("2001:db8:1:2", half, (BigInt(1) << 64) - 1, "V6HIGH")))
    val out = geo(df).orderBy("id").collect()
    assert(out.length == 5, "both left joins must preserve row count")
    assert(out.map(_.getAs[String]("geo_country")).toList ==
      List("V4LAND", "V6HIGH", "V6LOW", null, null))
  }

  test("a lookup dim that would emit an event twice fails the build and names the overlap") {
    import spark.implicits._
    val df = Seq((1L, "0.0.0.60", "EUR")).toDF("id", "user_ipaddress", "currency")
      .withColumn("amount_cents", lit(100L))
    // the broadcast-join twin emits one row per match: the event twice
    val overlapping = IpSegmentLookup("isp", Seq((0L, 100L, "A"), (50L, 200L, "B")))
    assert(overlapping.applySpec(df).count() == 2)
    val e = intercept[IllegalArgumentException](overlapping(df))
    assert(e.getMessage.contains("ip_isp_lookup: ranges [0.0.0.0, 0.0.0.100] and [0.0.0.50, 0.0.0.200] overlap"),
      e.getMessage)
    val asn = intercept[IllegalArgumentException](
      IpAsnLookup(Seq((10L, 20L, 1L, "a"), (30L, 40L, 2L, "b"), (40L, 50L, 3L, "c")))(df))
    assert(asn.getMessage.contains("[0.0.0.30, 0.0.0.40] and [0.0.0.40, 0.0.0.50]"), asn.getMessage)
    val half = BigInt(1) << 63
    val v6 = intercept[IllegalArgumentException](IpGeoLookup(Nil, v6Ranges = Seq(
      ("2001:db8:1:2", BigInt(0), half, "A"), ("2001:db8:1:2", half, half + 1, "B")))(df))
    assert(v6.getMessage.contains(s"[2001:db8:1:2/64+0, 2001:db8:1:2/64+$half] and"), v6.getMessage)
    val rates = CurrencyConversion(Seq(("EUR", 1080000L), ("USD", 1000000L), ("EUR", 1090000L)))
    assert(rates.applySpec(df).count() == 2)
    val cur = intercept[IllegalArgumentException](rates(df))
    assert(cur.getMessage.contains("currency_conversion: the dim repeats key 'EUR'"), cur.getMessage)
    // touching ranges and distinct keys are fine; so are ranges that only
    // overlap outside the address space
    assert(IpSegmentLookup("isp", Seq((0L, 49L, "A"), (50L, 200L, "B")))(df)
      .select("ip_isp").as[String].collect().toSeq == Seq("B"))
    assert(IpSegmentLookup("isp", Seq((-10L, -1L, "A"), (-5L, 200L, "B")))(df).count() == 1)
  }

  test("bad-row split matches the invalid-code injection pattern") {
    val (good, bad) = PipelineQuery.pipeline.split(rawDf)
    // Synth injects invalid event codes at e%9==8 and invalid platforms at e%10==9
    val expectedBad = (0 until 100).count(e => e % 9 == 8 || e % 10 == 9)
    assert(bad.count() == expectedBad)
    assert(good.count() == 100 - expectedBad)
    // errors name the offending enrichment
    val errs = bad.select(explode(graft.enrich.Enrichment.failureSummaries(col("bad_row_errors")))).collect().map(_.getString(0))
    assert(errs.forall(_.startsWith("tracker_transform:")))
    // structured failure-entity fidelity (reference enrichments/Failure
    // .scala:31): ONE typed entity per failed enrichment check — a row
    // failing both checks carries both entities, each naming its component
    // and failure type
    val entities = bad.select(col("event_id").cast("string"), col("bad_row_errors")).collect()
      .map(r => r.getString(0) -> r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](1)).toMap
    (0 until 100).filter(e => e % 9 == 8 || e % 10 == 9).foreach { e =>
      val expected = (if (e % 9 == 8) Seq("unknown event code") else Nil) ++
        (if (e % 10 == 9) Seq("invalid platform") else Nil)
      val got = entities(e.toString)
      assert(got.map(_.getString(3)) == expected, s"event $e entities")
      assert(got.forall(en => en.getString(0) == "tracker_transform" &&
        en.getString(1) == "enrichment_failure" && en.getString(2) == null))
    }
  }

  test("enrichment chain is narrow: no shuffle except lookup joins") {
    val plan = PipelineQuery.pipeline.run(rawDf).queryExecution.executedPlan.toString
    // the lookup stages are kernels, so no exchange of any kind is needed
    assert(!plan.contains("ShuffleExchange") || !plan.split("\n").exists(l =>
      l.contains("Exchange hashpartitioning")), s"unexpected shuffle in plan")
  }

  test("multimodal plumbing: stub decode over binary column") {
    import spark.implicits._
    val df = Seq((1L, "hello".getBytes("UTF-8")), (2L, Array(0xff.toByte, 0xd8.toByte, 1.toByte)))
      .toDF("id", "payload")
    val meta = graft.multimodal.Multimodal.extractMeta(df, "id", "payload", graft.multimodal.StubDecoder)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(meta(1L) == "bin")
    assert(meta(2L) == "jpeg")
  }

  test("multimodal plumbing: null payloads are data, not executor NPEs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1L, Some("hello")), (2L, None))
      .toDF("id", "s").select(col("id"), col("s").cast("binary").as("payload"))
    val meta = graft.multimodal.Multimodal.extractMeta(df, "id", "payload", graft.multimodal.StubDecoder)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(meta(1L).contains("bin") && meta(2L).isEmpty)
    val emb = graft.multimodal.Multimodal.embedBatch(df, "id", "payload", graft.multimodal.StubEmbedder)
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(emb(1L).nonEmpty && emb(2L).isEmpty)
    // frame sampling: empty and null payloads yield NO frames, never a
    // phantom offset 0
    val frames = graft.multimodal.Multimodal.frameSampleStub(
        Seq((1L, "abcdef"), (2L, "")).toDF("id", "payload"), "payload", 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    assert(frames(1L) == Seq(0, 2, 4) && frames(2L).isEmpty)
  }

  test("SchemaValidate enrichment: full bad-row taxonomy, good/bad split") {
    import spark.implicits._
    import graft.enrich.{FieldSpec, SchemaValidate}
    val cart = "iglu:com.acme/add_to_cart/jsonschema/1-0-0"
    val df = Seq(
      (1L, cart, """{"sku":"sku1","qty":2,"status":"paid","meta":{"src":"web"}}"""), // valid
      (2L, cart, """{"qty":2,"status":"new","meta":{"src":"web"}}"""), // missing sku
      (3L, cart, """{"sku":"sku1","qty":"oops","status":"new","meta":{"src":"web"}}"""), // wrong type
      (4L, "iglu:com.unknown/x/jsonschema/1-0-0", """{"sku":"sku1"}"""), // unknown schema
      (5L, cart, """{"sku":"sku1","qty":2,"status":"bogus","meta":{"src":"web"}}"""), // enum
      (6L, cart, """{"sku":"SKU-9","qty":2,"status":"new","meta":{"src":"web"}}"""), // pattern
      (7L, cart, """{"sku":"sku1","qty":9999,"status":"new","meta":{"src":"web"}}"""), // range
      (8L, cart, """{"sku":"sku1","qty":2,"status":"new","meta":{}}"""), // nested required
      (9L, cart, """{"sku":"sku1","qty":2,"status":"new","meta":{"src":"web"},"codes":[1,"x",3]}"""), // bad array element
      (10L, cart, """{"sku":"sku1","qty":2,"status":"new","meta":{"src":"web"},"codes":[1,2,3,4,5]}"""), // too many items
      (11L, cart, """{"sku":"sku1","qty":2,"status":"new","meta":{"src":"web"},"surprise":1}"""), // undeclared key
      (12L, cart, """{"sku":"sku1","qty":2,"status":"new","meta":{"src":"web"},"codes":[1,2]}""") // valid with array
    ).toDF("id", "schema_str", "ctx")
    val v = SchemaValidate("ctx", "schema_str", Map(cart -> Seq(
      FieldSpec("sku", required = true, pattern = "sku[0-9]+"),
      FieldSpec("qty", typ = "bigint", min = Some(0), max = Some(100)),
      FieldSpec("status", enumVals = Seq("new", "paid", "refunded")),
      FieldSpec("meta.src", required = true),
      FieldSpec("codes", itemsType = "bigint", maxItems = Some(4)))),
      closedSchemas = Set(cart))
    val out = v(df.withColumn("bad_row_errors", graft.enrich.Enrichment.emptyFailures))
      .collect().map(r => r.getLong(0) -> failureStrings(r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("bad_row_errors"))).toMap
    assert(out(1L).isEmpty)
    assert(out(2L).exists(_.contains("missing_field sku")))
    assert(out(3L).exists(_.contains("type_violation qty")))
    assert(out(4L).exists(_.contains("schema_unknown")))
    assert(out(5L).exists(_.contains("enum_violation status")))
    assert(out(6L).exists(_.contains("pattern_violation sku")))
    assert(out(7L).exists(_.contains("range_violation qty")))
    assert(out(8L).exists(_.contains("missing_field meta.src")))
    assert(out(8L).size == 1) // the nested miss is the ONLY flag on row 8
    assert(out(9L).exists(_.contains("items_violation codes")))
    assert(out(9L).size == 1)
    assert(out(10L).exists(_.contains("length_violation codes")))
    assert(out(11L).size == 1 && out(11L).head.endsWith("unknown_key"))
    assert(out(12L).isEmpty) // well-typed array under the closed schema
  }

  test("SchemaValidate $ref: a referenced schema's fields mount under the ref path") {
    import spark.implicits._
    import graft.enrich.{FieldSpec, SchemaValidate}
    val order = "iglu:com.acme/order/jsonschema/1-0-0"
    val address = "iglu:com.acme/address/jsonschema/1-0-0"
    val specs = Map(
      order -> Seq(
        FieldSpec("order_id", required = true),
        FieldSpec("shipping", required = true, ref = address)),
      address -> Seq(
        FieldSpec("city", required = true),
        FieldSpec("zip", required = true, pattern = "[0-9]{5}")))
    val df = Seq(
      (1L, order, """{"order_id":"o1","shipping":{"city":"nyc","zip":"10001"}}"""), // valid
      (2L, order, """{"order_id":"o2","shipping":{"city":"nyc"}}"""), // ref'd required miss
      (3L, order, """{"order_id":"o3","shipping":{"city":"nyc","zip":"1"}}"""), // ref'd pattern
      (4L, order, """{"order_id":"o4"}"""), // the mount itself is required
      (5L, address, """{"city":"sf","zip":"94110"}""") // direct payloads still validate
    ).toDF("id", "schema_str", "ctx")
    val out = SchemaValidate("ctx", "schema_str", specs)(
        df.withColumn("bad_row_errors", graft.enrich.Enrichment.emptyFailures))
      .collect().map(r => r.getLong(0) -> failureStrings(r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("bad_row_errors"))).toMap
    assert(out(1L).isEmpty)
    assert(out(2L).exists(_.contains("missing_field shipping.zip")))
    assert(out(3L).exists(_.contains("pattern_violation shipping.zip")))
    assert(out(4L).exists(_.contains("missing_field shipping")))
    assert(out(5L).isEmpty)
    // unknown ref and ref cycles fail at PLAN BUILD, not per row
    val unknownRef = Map(order -> Seq(FieldSpec("x", ref = "iglu:com.acme/nope/jsonschema/1-0-0")))
    val e1 = intercept[IllegalArgumentException](
      SchemaValidate("ctx", "schema_str", unknownRef)(df.withColumn("bad_row_errors", graft.enrich.Enrichment.emptyFailures)))
    assert(e1.getMessage.contains("not a registered schema"))
    val cyc = Map(
      order -> Seq(FieldSpec("a", ref = address)),
      address -> Seq(FieldSpec("b", ref = order)))
    val e2 = intercept[IllegalArgumentException](
      SchemaValidate("ctx", "schema_str", cyc)(df.withColumn("bad_row_errors", graft.enrich.Enrichment.emptyFailures)))
    assert(e2.getMessage.contains("cycle"))
  }

  test("SchemaValidate resolves SchemaCriterion wildcards: 1-0-1 validates against 1-0-*") {
    import spark.implicits._
    import graft.enrich.{FieldSpec, SchemaCriterion, SchemaValidate}
    val crit = "iglu:com.acme/add_to_cart/jsonschema/1-0-*"
    val df = Seq(
      (1L, "iglu:com.acme/add_to_cart/jsonschema/1-0-0", """{"sku":"sku1"}"""), // exact
      (2L, "iglu:com.acme/add_to_cart/jsonschema/1-0-1", """{"sku":"sku2"}"""), // addition bump
      (3L, "iglu:com.acme/add_to_cart/jsonschema/1-0-17", """{"qty":1}"""), // resolved AND field-checked
      (4L, "iglu:com.acme/add_to_cart/jsonschema/1-1-0", """{"sku":"sku1"}"""), // revision bump: NOT matched
      (5L, "iglu:com.acme/add_to_cart/jsonschema/2-0-0", """{"sku":"sku1"}""") // model bump: NOT matched
    ).toDF("id", "schema_str", "ctx")
    val v = SchemaValidate("ctx", "schema_str",
      Map(crit -> Seq(FieldSpec("sku", required = true))))
    val out = v(df.withColumn("bad_row_errors", graft.enrich.Enrichment.emptyFailures))
      .collect().map(r => r.getLong(0) -> failureStrings(r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("bad_row_errors"))).toMap
    assert(out(1L).isEmpty && out(2L).isEmpty)
    assert(out(3L).size == 1 && out(3L).head.endsWith("missing_field sku"),
      "criterion-resolved events get the field predicates")
    assert(out(4L).size == 1 && out(4L).head.endsWith("schema_unknown"))
    assert(out(5L).size == 1 && out(5L).head.endsWith("schema_unknown"))

    // 1-*-* widens the revision slot too
    val wide = SchemaValidate("ctx", "schema_str",
      Map("iglu:com.acme/add_to_cart/jsonschema/1-*-*" -> Seq(FieldSpec("sku", required = true))))
    val out2 = wide(df.withColumn("bad_row_errors", graft.enrich.Enrichment.emptyFailures))
      .collect().map(r => r.getLong(0) -> failureStrings(r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("bad_row_errors"))).toMap
    assert(out2(4L).isEmpty)
    assert(out2(5L).size == 1 && out2(5L).head.endsWith("schema_unknown"))

    // malformed criteria fail at plan build, not per row
    intercept[IllegalArgumentException](SchemaCriterion.regexFor("iglu:acme/cart/1-0-*"))
    // vendor dots are literals in the compiled regex: comXacme must not match
    val spoofed = v(Seq((9L, "iglu:comXacme/add_to_cart/jsonschema/1-0-0", """{"sku":"sku1"}"""))
      .toDF("id", "schema_str", "ctx").withColumn("bad_row_errors", graft.enrich.Enrichment.emptyFailures))
      .collect().head.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("bad_row_errors")
    assert(spoofed.size == 1 && failureStrings(spoofed).head.endsWith("schema_unknown"))
    // the structured entity carries the offending uri as its schema_key
    assert(spoofed.head.getString(2) == "iglu:comXacme/add_to_cart/jsonschema/1-0-0")
  }

  test("ContextsValidate enrichment: per-element registry check, overflow flag") {
    import spark.implicits._
    import graft.enrich.ContextsValidate
    val geo = "iglu:com.snowplowanalytics.snowplow/geolocation_context/jsonschema/1-1-0"
    val cli = "iglu:com.snowplowanalytics.snowplow/client_session/jsonschema/1-0-1"
    val df = Seq(
      (1L, s"""[{"schema":"$geo","data":{"latitude":1.0,"longitude":2.0}}]"""), // valid
      (2L, s"""[{"schema":"$geo","data":{"latitude":1.0,"longitude":2.0}},
               {"schema":"iglu:com.x/y/jsonschema/1-0-0","data":{}}]""".replaceAll("\\s+", "")), // 1 bad
      (3L, s"""[{"schema":"$cli","data":{"userId":"u1"}}]"""), // missing sessionId
      (4L, "[]"),
      (5L, null.asInstanceOf[String])
    ).toDF("id", "contexts")
    val v = ContextsValidate("contexts", Map(
      geo -> Seq("latitude", "longitude"),
      cli -> Seq("userId", "sessionId")))
    val out = v(df.withColumn("bad_row_errors", graft.enrich.Enrichment.emptyFailures))
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Int]("ctx_count"), r.getAs[Int]("ctx_invalid_count"),
          r.getAs[String]("ctx_first_bad_schema"),
          failureStrings(r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("bad_row_errors"))))).toMap
    assert(out(1L) == ((1, 0, null, Seq())))
    assert(out(2L)._1 == 2 && out(2L)._2 == 1 && out(2L)._3 == "iglu:com.x/y/jsonschema/1-0-0")
    assert(out(2L)._4.exists(_.contains("invalid_context")))
    assert(out(3L)._2 == 1 && out(3L)._3 == cli)
    assert(out(4L) == ((0, 0, null, Seq())))
    assert(out(5L) == ((0, 0, null, Seq())))
  }

  test("ContextsValidate flags overflow past the probe cap instead of silently skipping") {
    import spark.implicits._
    import graft.enrich.ContextsValidate
    val geo = "iglu:com.snowplowanalytics.snowplow/geolocation_context/jsonschema/1-1-0"
    val many = (0 until 5)
      .map(i => s"""{"schema":"$geo","data":{"latitude":$i.0,"longitude":$i.5}}""")
      .mkString("[", ",", "]")
    val v = ContextsValidate("contexts", Map(geo -> Seq("latitude", "longitude")), maxContexts = 3)
    val out = v(Seq((1L, many)).toDF("id", "contexts")
      .withColumn("bad_row_errors", graft.enrich.Enrichment.emptyFailures)).collect()(0)
    assert(out.getAs[Int]("ctx_count") == 3) // counts only the probed prefix
    assert(out.getAs[Int]("ctx_invalid_count") == 0)
    assert(failureStrings(out.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("bad_row_errors"))
      .exists(_.contains("contexts_overflow")))
  }
}
