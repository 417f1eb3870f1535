package graft

import org.apache.spark.sql.functions.lit

/** Scale-guard plan assertions: the properties SURVEY §5 and PLANS.md
  * promise — static dims as lookup kernels, broadcasts where query dims
  * are small, NO hash-shuffle on fact sides, no joins in pure-projection
  * enrichments — enforced as specs so a
  * plan regression fails CI instead of only drifting the next PLANS.md
  * regeneration.
  */
class PlanShapeSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** hash-shuffle count — rangepartitioning (output orderBy) is allowed. */
  private def hashExchanges(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).length

  test("geo lookups broadcast the range dim: no fact-side hash shuffle") {
    for (q <- Seq("ip_geo_lookup", "ip_geo_lookup_v6")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast join")
      assert(hashExchanges(p) == 0, s"$q shuffles the fact side:\n$p")
    }
  }

  test("pure-projection enrichments plan with zero joins") {
    for (q <- Seq("referer_parse", "ua_classify", "anon_ip", "dedup_bloom")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
      assert(hashExchanges(p) == 0, s"$q grew a hash shuffle:\n$p")
    }
    // ua_device_class ends in a tiny class rollup: one partial-agg
    // exchange, still no join
    val p = plan("ua_device_class")
    assert(!p.contains("Join") && hashExchanges(p) == 1 && p.contains("partial_count"),
      s"ua_device_class shape drifted:\n$p")
  }

  test("the default enrichment chain plans with no join and no hash shuffle") {
    val p = plan("enrich_pipeline")
    assert(!p.contains("Join"), s"enrich_pipeline grew a join:\n$p")
    assert(hashExchanges(p) == 0, s"enrich_pipeline shuffles the fact stream:\n$p")
  }

  /** A collector TSV file of `lines` under a fresh temporary directory. */
  private def collectorTsv(prefix: String, lines: String*): java.nio.file.Path = {
    val in = java.nio.file.Files.createTempDirectory(prefix).resolve("in")
    java.nio.file.Files.createDirectories(in)
    java.nio.file.Files.writeString(in.resolve("events.tsv"), lines.mkString("\n"))
    in
  }

  private val chainLine = "1700000000000000\t10.0.0.1\tMozilla/5.0 (X11; Linux x86_64) Firefox/119.0\t" +
    "https://shop.example.com/p/1?utm_source=g\tpv\te=pv&p=web&uid=u1&res=1920x1080" +
    "&dtm=1700000000000&_sp=abc.1700000000000&tr_tt=12.5&tr_cu=EUR"

  /** The SQL executions `body` runs. */
  private def executions(body: => Unit): Seq[org.apache.spark.sql.execution.QueryExecution] = {
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val done = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = done.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    scala.jdk.CollectionConverters.CollectionHasAsScala(done).asScala.toSeq
  }

  test("a batch Main write over the default chain executes without AdaptiveSparkPlan") {
    // adaptive execution wraps only plans with an exchange: the two lookup
    // joins' broadcasts brought it in, and with it a re-optimization of
    // the whole chain on every write
    val in = collectorTsv("main-no-aqe", chainLine, chainLine.replace("pv", "zz"))
    val out = in.getParent
    val plans = executions(graft.Main.main(Array("--mode", "batch", "--format", "collector-tsv",
      "--input", in.toString, "--good", out.resolve("good").toString, "--bad", out.resolve("bad").toString)))
      .map(_.executedPlan.toString)
    assert(plans.size >= 2, s"expected the good and bad writes, got ${plans.size}")
    plans.foreach { p =>
      assert(!p.contains("AdaptiveSparkPlan") && !p.contains("Exchange"), s"a Main write planned:\n$p")
    }
    assert(spark.read.parquet(out.resolve("good").toString).count() == 1)
    assert(spark.read.text(out.resolve("bad").toString).count() == 1)
  }

  test("an inline-dims fromJson config with geo v4+v6, asn, isp and currency plans join-free") {
    val pipeline = graft.enrich.EnrichmentConfig.fromJson("""{"enrichments": [
      {"name": "tracker_transform"},
      {"name": "ip_geo_lookup", "bucketBits": 26,
       "ranges": [{"lo": 0, "hi": 167772159, "country": "AA"}, {"lo": 167772160, "hi": 184549375, "country": "TEN"}],
       "v6Ranges": [{"prefix": "2001:db8:1:2", "lo": "0", "hi": "18446744073709551615", "country": "V6"}]},
      {"name": "ip_asn_lookup", "ranges": [{"lo": 167772160, "hi": 167772415, "asn": 64496, "org": "Example"}]},
      {"name": "ip_segment_lookup", "segment": "isp",
       "ranges": [{"lo": 167772160, "hi": 184549375, "value": "Example ISP"}]},
      {"name": "currency_conversion", "rates": [{"cur": "EUR", "rateMicro": 1080000}]}
    ]}""")
    val raw = graft.enrich.Protocol.fromCollector(graft.sources.Sources.collectorTsv(spark,
      collectorTsv("inline-dims", chainLine, chainLine.replace("10.0.0.1", "2001:db8:1:2::1")).toString))
    val out = pipeline.run(raw)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Exchange"), s"an inline-dims chain planned:\n$p")
    val rows = out.select("geo_country", "ip_asn", "ip_organization", "ip_isp", "base_amount_e8")
      .collect().map(_.toSeq).toSeq
    assert(rows.toSet == Set(Seq("TEN", 64496L, "Example", "Example ISP", 1250L * 1080000L),
      Seq("V6", null, null, null, 1250L * 1080000L)), rows)
  }

  test("currency conversion broadcasts the (currency, day) dim") {
    val p = plan("currency_conversion")
    assert(p.contains("BroadcastHashJoin"))
    assert(hashExchanges(p) == 0, s"currency_conversion shuffles facts:\n$p")
  }

  test("benchmark decontamination broadcasts the bench side") {
    for (q <- Seq("decontaminate", "decontaminate_embedding")) {
      val p = plan(q)
      assert(p.contains("BroadcastExchange"), s"$q stopped broadcasting the benchmark:\n$p")
    }
  }

  test("narrow reads: per-doc scores scan only the columns they use") {
    for (q <- Seq("token_count", "quality_classifier", "dsir_score")) {
      val p = plan(q)
      val schemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).toList
      assert(schemas.nonEmpty, s"$q: no FileScan found:\n$p")
      schemas.foreach { s =>
        assert(!s.contains("embedding") && !s.contains("source"),
          s"$q reads columns it never uses: $s")
      }
    }
  }

  test("r7 operators keep their promised shapes") {
    // winnowing is a pure per-row projection: no join, no hash shuffle
    val pw = plan("winnow_fingerprint")
    assert(!pw.contains("Join") && hashExchanges(pw) == 0,
      s"winnow_fingerprint must stay a narrow projection:\n$pw")
    // token/chunk pipelines may shuffle on doc/gram keys but never join the
    // corpus against itself
    for (q <- Seq("cdc_chunk_dedup", "markov_transitions", "volume_anomaly")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
    }
    // candidate verification and stats joins broadcast their small side —
    // a sort-merge join would shuffle the corpus
    for (q <- Seq("dedup_edit_verify", "collocation_lift", "source_divergence", "ann_ivf_pq")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$q lost its broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q fell back to SMJ:\n$p")
    }
    // the attribution as-of goes through the custom Catalyst operator
    val pa = plan("attribution_last_touch")
    assert(pa.contains("AsOfJoin"), s"attribution lost the native as-of plan:\n$pa")
  }

  test("retrieval/graph operators keep their promised shapes") {
    // BM25: the query vocabulary and per-term stats broadcast; the corpus
    // side never sort-merge-joins
    val pb = plan("bm25_topk")
    assert(pb.contains("BroadcastHashJoin"), s"bm25_topk lost its broadcasts:\n$pb")
    assert(!pb.contains("SortMergeJoin"), s"bm25_topk fell back to SMJ:\n$pb")
    // the top-k window must push a PARTIAL group-limit below its exchange —
    // without it every scored (q, doc) row shuffles
    assert(pb.contains("WindowGroupLimit") && pb.contains("Partial"),
      s"bm25_topk lost the partial top-k:\n$pb")
    // boilerplate_strip: the flagged set re-joins broadcast (boilerplate is
    // small by definition); the exploded chunk table never SMJs
    val pbs = plan("boilerplate_strip")
    assert(pbs.contains("BroadcastHashJoin") && !pbs.contains("SortMergeJoin"),
      s"boilerplate_strip shape drifted:\n$pbs")
    // split_holdout: pure narrow scan + tiny agg — no join at any size
    val ps = plan("split_holdout")
    assert(!ps.contains("Join"), s"split_holdout grew a join:\n$ps")
    // hard_negative_mine: the query sample broadcasts (BNLJ on the
    // inequality condition), corpus side one scan
    val ph = plan("hard_negative_mine")
    assert(ph.contains("BroadcastNestedLoopJoin"), s"hard_negative_mine shape:\n$ph")
    // cluster_keyterms: cell assignment is a narrow kernel (no join for the
    // embedding side) and the cell-df table broadcasts
    val pc = plan("cluster_keyterms")
    assert(pc.contains("BroadcastHashJoin") && !pc.contains("SortMergeJoin"),
      s"cluster_keyterms shape drifted:\n$pc")
  }

  test("r8 operators keep their promised shapes") {
    // chunk_split is map-only: explode + re-slice, NO exchange before the
    // output sort — at any corpus size the stage is embarrassingly parallel
    val pc = plan("chunk_split")
    assert(!pc.contains("Join") && hashExchanges(pc) == 0,
      s"chunk_split must stay shuffle-free:\n$pc")
    // record_linkage joins ONLY on the block key (equi-join); a cross or
    // nested-loop plan would mean blocking stopped bounding the candidates
    val pr = plan("record_linkage")
    assert(!pr.contains("NestedLoop") && !pr.contains("CartesianProduct"),
      s"record_linkage lost its blocked equi-join:\n$pr")
    // distinct_kmv: the per-type rank runs over the DISTINCT hash set — the
    // distinct's partial aggregate must appear below its exchange so the
    // shuffle carries survivors, not the event stream
    val pk = plan("distinct_kmv")
    assert(pk.contains("partial_"), s"distinct_kmv lost map-side combining:\n$pk")
    assert(!pk.contains("NestedLoop") && !pk.contains("CartesianProduct"),
      s"distinct_kmv join shape drifted:\n$pk")
  }

  test("protocol mapping and UaParser: one kernel each, one projection per stage") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, RegExpExtract}
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    import graft.plans.{TrackerParamsExpression, UaParseExpression}
    val dir = java.nio.file.Files.createTempDirectory("protocol-plan")
    val tsv = dir.resolve("events.tsv")
    java.nio.file.Files.writeString(tsv,
      "1700000000000000\t10.0.0.1\tMozilla/5.0 (X11; Linux x86_64) Firefox/119.0\t" +
        "https://shop.example.com/p/1\tpv\te=pv&p=web&uid=u1&dtm=1700000000000\n")
    val raw = graft.enrich.Protocol.fromCollector(
      graft.sources.Sources.collectorTsv(spark, tsv.toString))
    def all(plan: LogicalPlan): Seq[Expression] =
      plan.collect { case n => n.expressions.flatMap(_.collect { case e => e }) }.flatten
    // the getFields of one kernel call are copies of one expression, which
    // codegen subexpression elimination evaluates once per row
    def distinctCalls(plan: LogicalPlan)(pf: PartialFunction[Expression, Expression]) =
      all(plan).collect(pf).map(_.canonicalized).distinct.size
    val protocol = raw.queryExecution.optimizedPlan
    assert(distinctCalls(protocol) { case t: TrackerParamsExpression => t } == 1,
      s"Protocol.fromCollector must walk the querystring once:\n$protocol")
    val qsRegex = all(protocol).collect { case r: RegExpExtract => r }
      .filter(_.references.exists(_.name == "querystring"))
    assert(qsRegex.isEmpty, s"a regexp_extract still scans the querystring:\n$protocol")
    val ua = graft.enrich.UaParser().apply(raw).queryExecution.optimizedPlan
    assert(distinctCalls(ua) { case u: UaParseExpression => u } == 1,
      s"UaParser must parse the UA once:\n$ua")
    // the default chain over the protocol mapping analyzes to 64 Project
    // nodes with one withColumn per derived column, 25 with one withColumns
    // per stage (the loader's select, the mapping, the chain's stages and
    // flags, and the joins' drops)
    val chain = graft.queries.PipelineQuery.pipeline.run(raw)
    val projects = chain.queryExecution.analyzed.collect { case p: Project => p }.size
    assert(projects <= 25, s"pipeline.run analyzes to $projects Project nodes")
    assert(chain.count() == 1)
  }

  test("the default chain's largest generated method stays under HotSpot's 8,000-byte JIT limit") {
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    // HotSpot never compiles a method over 8,000 bytes of bytecode
    // (-XX:+DontCompileHugeMethods): a fused chain past it runs every row
    // in the interpreter. With the Column-built stages the chain's one
    // method read 14,935 bytes. The stream's two queries are the split's
    // sides: with the good side's filter pushed into the chain, its method
    // read 15,797 bytes.
    val pipeline = graft.queries.PipelineQuery.pipeline
    val raw = graft.enrich.Protocol.fromCollector(
      graft.sources.Sources.collectorTsv(spark, collectorTsv("chain-codegen", chainLine).toString))
    val payload = graft.sources.Sources.CollectorTsvFields.map(_._1)
    for ((what, df) <- Seq("chain" -> pipeline.run(raw), "good side" -> pipeline.split(raw)._1,
        "bad envelopes" -> pipeline.badRowsJson(raw, payload, lit(0L)).select("bad_row"),
        "all-enrichments config chain" -> allEnrichments.run(raw))) {
      val written = executions(df.write.format("noop").mode("overwrite").save())
      assert(written.size == 1, s"$what: the noop write reported no query execution")
      val stages = codegenStringSeq(written.head.executedPlan)
      assert(stages.nonEmpty, s"$what: no whole-stage-codegen subtree:\n${written.head.executedPlan}")
      val largest = stages.map(_._3.maxMethodCodeSize).max
      info(s"$what: $largest bytes")
      assert(largest < 8000, s"$what: the largest generated method is $largest bytes")
    }
  }

  /** Every stage `fromJson` builds from inline data, with no network and no
    * JDBC: the default chain's 13 stages, then the IAB, ASN, segment and
    * bot stages, the extractors and the schema vendor. The collector TSV
    * carries no cookie or header column, so the extractors read string
    * columns it has. */
  private def allEnrichments = graft.enrich.EnrichmentConfig.fromJson("""{"enrichments": [
    {"name": "tracker_transform"},
    {"name": "derived_tstamp"},
    {"name": "page_url_parse"},
    {"name": "campaign_attribution"},
    {"name": "referer_parser", "internalDomains": ["internal.example.com", "shop.example.com"]},
    {"name": "ua_parser"},
    {"name": "ip_geo_lookup",
     "ranges": [{"lo": 0, "hi": 167772159, "country": "AA"}, {"lo": 167772160, "hi": 184549375, "country": "TEN"}],
     "v6Ranges": [{"prefix": "2001:db8:1:2", "lo": "0", "hi": "18446744073709551615", "country": "V6"}]},
    {"name": "currency_conversion", "rates": [{"cur": "EUR", "rateMicro": 1080000}]},
    {"name": "cross_navigation"},
    {"name": "anon_ip"},
    {"name": "pii_pseudonymize", "fields": ["user_id"], "salt": "pepper"},
    {"name": "event_fingerprint", "params": ["event_code", "platform_code", "res"]},
    {"name": "iab_bot_detection", "botIpList": ["10.0.0.9"]},
    {"name": "ip_asn_lookup", "ranges": [{"lo": 167772160, "hi": 167772415, "asn": 64496, "org": "Example"}]},
    {"name": "ip_segment_lookup", "segment": "isp",
     "ranges": [{"lo": 167772160, "hi": 184549375, "value": "Example ISP"}]},
    {"name": "bot_detection", "useAsnLookups": true, "botAsns": [64496]},
    {"name": "cookie_extractor", "cookieCol": "querystring", "cookies": ["sp", "uid"]},
    {"name": "http_header_extractor", "headerCol": "useragent"},
    {"name": "schema_vendor"},
    {"name": "field_lengths"}
  ]}""")

  test("aggregations are map-side partial before their one exchange") {
    val p = plan("q1_pricing")
    val firstPartial = p.indexOf("partial_")
    val firstExchange = p.indexOf("Exchange hashpartitioning")
    assert(firstPartial >= 0 && firstExchange >= 0)
    // plans print top-down: the exchange appears above (before) the partial
    // aggregate that feeds it
    assert(hashExchanges(p) == 1, s"q1_pricing should shuffle exactly once:\n$p")
  }
}
