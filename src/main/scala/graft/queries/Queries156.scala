package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.PayloadF

/** SURVEY §2 additions (round 11):
  *
  *  - `sql_query_live`: the SQL-query enrichment's LIVE JDBC path under the
  *    ORACLE gate, twinning `api_lookup_live`'s pattern (reference
  *    registry/sqlquery/DbExecutor.scala:34 — per-event `?`-placeholder
  *    PreparedStatement against a relational store). An embedded Derby
  *    database plays the production Postgres: the query seeds a
  *    deterministic account dim (with planted misses), the enrichment
  *    fetches each DISTINCT key once through a real JDBC
  *    PreparedStatement, and broadcast-joins the parsed JSON responses
  *    back onto the fact. The oracle recomputes the seeded formula inline
  *    — any drift in distinct-fetch / placeholder binding / JSON parse /
  *    join-back shows up as a row mismatch.
  *  - `metadata_report`: the metadata collector's aggregation (reference
  *    core/Metadata.scala:20 — per (event schema, source app, tracker,
  *    platform, tracking-scenario id): event count + the distinct set of
  *    entity schemas attached across the group's events). One map-side-
  *    combined hash aggregation over a bounded key space; the entity SET
  *    rides as compact per-group state, never row explosion past the
  *    first exchange.
  *  - `payload_decompress`: the collector-payload decompression path
  *    (reference core/Decompressor.scala — gzip-batched payload blobs
  *    inflated with a decompression-bomb guard, then split back into
  *    per-event lines for adapter parsing). Events batch 20-to-a-blob,
  *    REAL gzip bytes are produced and inflated by the codegen'd
  *    [[graft.plans.GzipCodec]] kernels, and the oracle recomputes every
  *    line directly — the round trip must reconstruct each line exactly
  *    once or rows/hashes mismatch.
  */
/** Entity schema keys shared between the Spark side and the DuckDB twin of
  * `metadata_report` — one source so the two cannot drift. */
private[queries] object Q156 {
  val WebPage = "iglu:com.snowplowanalytics.snowplow/web_page/jsonschema/1-0-0"
  val ClientSession = "iglu:com.snowplowanalytics.snowplow/client_session/jsonschema/1-0-2"
  val GeoContext = "iglu:com.snowplowanalytics.snowplow/geolocation_context/jsonschema/1-1-0"
  val UaContext = "iglu:com.snowplowanalytics.snowplow/ua_parser_context/jsonschema/1-0-0"
}

object Queries156 extends QuerySet {
  /** Key domain: user_id % Mod; keys with acct % 10 == 7 are NOT seeded
    * (the planted database miss — null output columns, reference
    * AT_MOST_ONE posture). */
  private val Mod = 50L

  private val DbName = "graftq156"
  private val DbUrl = s"jdbc:derby:memory:$DbName;create=true"

  /** Idempotent driver-side seeding of the embedded database (the test
    * stand-in for a live warehouse): DROP + CREATE + deterministic rows.
    * Synchronized so Verify's parallel query runners never race the DDL. */
  private def seed(): Unit = Queries156.synchronized {
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home",
        java.nio.file.Files.createTempDirectory("derby-home-q156").toString)
    val c = java.sql.DriverManager.getConnection(DbUrl)
    try {
      val st = c.createStatement()
      scala.util.Try(st.execute("DROP TABLE accounts"))
      st.execute("CREATE TABLE accounts (acct BIGINT PRIMARY KEY, " +
        "tier VARCHAR(10), credit BIGINT)")
      val ins = c.prepareStatement("INSERT INTO accounts VALUES (?, ?, ?)")
      var a = 0L
      while (a < Mod) {
        if (a % 10 != 7) { // planted misses stay out of the table
          ins.setLong(1, a)
          ins.setString(2, if (a % 4 == 0) "pro" else "std")
          ins.setLong(3, (a * 29) % 83)
          ins.executeUpdate()
        }
        a += 1
      }
      ins.close(); st.close()
    } finally c.close()
  }

  val defs: Map[String, Q] = Map(
    "sql_query_live" -> { (sp, dir) =>
      seed()
      val ev = Tables.events(sp, dir)
        .select(col("event_id"), (col("user_id") % Mod).as("acct"))
      graft.enrich.SqlQueryLookup(
        keyCols = Seq("acct"),
        sql = "SELECT tier AS \"tier\", credit AS \"credit\" FROM accounts WHERE acct = ?",
        // executor threads share the driver JVM on local[n]; production
        // injects a DataSource::getConnection here
        connectionFactory = () => java.sql.DriverManager.getConnection(DbUrl),
        outputSchemaDdl = "tier STRING, credit BIGINT")
        .apply(ev)
        .select(col("event_id"), col("acct"), col("tier"), col("credit"))
        .orderBy("event_id")
    },

    "metadata_report" -> { (sp, dir) =>
      val e = col("event_id")
      val meta = Synth.withRaw(Tables.events(sp, dir)).select(
        e,
        concat(lit("iglu:com.acme/"), col("event_code"), lit("/jsonschema/1-0-"),
          (e % 2).cast("string")).as("event_schema"),
        concat(lit("app-"), (e % 5).cast("string")).as("source"),
        concat(lit("js-3."), (e % 4).cast("string")).as("tracker"),
        col("platform_code").as("platform"),
        when(e % 6 === 0, concat(lit("scn-"), (e % 3).cast("string")))
          .otherwise(lit("none")).as("scenario_id"),
        // the event's attached entity schemas (contexts + derived), as the
        // reference extracts them from the sdj envelopes; web_page rides on
        // every event, the rest key off deterministic event_id arithmetic
        array_compact(array(
          lit(Q156.WebPage),
          when(e % 3 === 0, lit(Q156.ClientSession)),
          when(e % 2 === 0, lit(Q156.GeoContext)),
          when(e % 7 === 0, lit(Q156.UaContext)))).as("entities"))
      meta
        .select(col("event_schema"), col("source"), col("tracker"),
          col("platform"), col("scenario_id"), e, explode(col("entities")).as("entity"))
        .groupBy("event_schema", "source", "tracker", "platform", "scenario_id")
        .agg(
          countDistinct(e).as("n_events"),
          array_join(array_sort(collect_set(col("entity"))), ",").as("entities"))
        .orderBy("event_schema", "source", "tracker", "platform", "scenario_id")
    },

    "identity_stitch_live" -> { (sp, dir) =>
      // reference core/Identity.scala:32 — the batched identity API that
      // assigns a stable snowplowId per unique identifier combination.
      // Deterministic transport: the id IS md5 of the joined identifiers
      // (what a create-or-get API guarantees: same identifiers, same id),
      // so the DuckDB oracle recomputes it with its own md5. Events
      // missing an identifier (e % 5 == 0 drops network_userid) never
      // query and stitch to null.
      val e = col("event_id")
      val ev = Tables.events(sp, dir).select(
        e,
        concat(lit("du-"), (col("user_id") % 40).cast("string")).as("domain_userid"),
        when(e % 5 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("nu-"), (col("user_id") % 25).cast("string"))).as("network_userid"))
      val transport: Seq[String] => Option[String] = { ks =>
        val md = java.security.MessageDigest.getInstance("MD5")
        Some(md.digest(ks.mkString("|").getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString)
      }
      graft.enrich.IdentityLookup(Seq("domain_userid", "network_userid"), transport)
        .apply(ev)
        .select(e, col("domain_userid"), col("network_userid"), col("snowplow_id"))
        .orderBy("event_id")
    },

    "payload_decompress" -> { (sp, dir) =>
      val e = col("event_id")
      val lines = Tables.events(sp, dir).select(
        e,
        expr("event_id div 20").as("batch"),
        concat(lit("ev="), e.cast("string"), lit("&aid=app-"),
          (e % 5).cast("string")).as("line"))
      // one blob per 20-event batch, lines in event order — the shape a
      // collector delivers; even batches compress with gzip, odd with zstd
      // (the reference's two codecs, real bytes both ways)
      val blobs = lines.groupBy("batch")
        .agg(array_join(
          transform(array_sort(collect_list(struct(e.as("event_id"), col("line")))),
            x => x("line")), "\n").as("payload"))
        .withColumn("blob",
          when(col("batch") % 2 === 0, PayloadF.gzip(col("payload").cast("binary")))
            .otherwise(PayloadF.zstd(col("payload").cast("binary"))))
        .select(col("batch"), col("blob"))
      blobs
        .withColumn("payload",
          when(col("batch") % 2 === 0, PayloadF.gunzip(col("blob")))
            .otherwise(PayloadF.unzstd(col("blob"))).cast("string"))
        .select(explode(split(col("payload"), "\n")).as("line"))
        .select(
          regexp_extract(col("line"), "^ev=(\\d+)&", 1).cast("bigint").as("event_id"),
          col("line"))
        .orderBy("event_id")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "metadata_report" ->
      Synth.withCte(
        s""", meta AS (
           |  SELECT event_id,
           |    concat('iglu:com.acme/', event_code, '/jsonschema/1-0-', event_id % 2) AS event_schema,
           |    concat('app-', event_id % 5) AS source,
           |    concat('js-3.', event_id % 4) AS tracker,
           |    platform_code AS platform,
           |    CASE WHEN event_id % 6 = 0 THEN concat('scn-', event_id % 3) ELSE 'none' END AS scenario_id
           |  FROM raw),
           |ent AS (
           |  SELECT event_id, '${Q156.WebPage}' AS entity FROM raw
           |  UNION ALL SELECT event_id, '${Q156.ClientSession}' FROM raw WHERE event_id % 3 = 0
           |  UNION ALL SELECT event_id, '${Q156.GeoContext}' FROM raw WHERE event_id % 2 = 0
           |  UNION ALL SELECT event_id, '${Q156.UaContext}' FROM raw WHERE event_id % 7 = 0)
           |SELECT m.event_schema, m.source, m.tracker, m.platform, m.scenario_id,
           |  CAST(count(DISTINCT m.event_id) AS BIGINT) AS n_events,
           |  string_agg(DISTINCT e.entity, ',' ORDER BY e.entity) AS entities
           |FROM meta m JOIN ent e USING (event_id)
           |GROUP BY 1, 2, 3, 4, 5
           |ORDER BY 1, 2, 3, 4, 5""".stripMargin),

    "identity_stitch_live" ->
      // the transport's create-or-get formula inlined: md5 over the
      // joined identifiers; a missing identifier stitches to null
      """SELECT event_id,
        |  concat('du-', user_id % 40) AS domain_userid,
        |  CASE WHEN event_id % 5 = 0 THEN NULL
        |       ELSE concat('nu-', user_id % 25) END AS network_userid,
        |  CASE WHEN event_id % 5 = 0 THEN NULL
        |       ELSE md5(concat('du-', user_id % 40, '|', 'nu-', user_id % 25)) END AS snowplow_id
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "payload_decompress" ->
      // the blobs round-trip through real gzip/zstd on the Spark side; the
      // oracle recomputes the pre-compression lines directly
      """SELECT event_id,
        |  concat('ev=', event_id, '&aid=app-', event_id % 5) AS line
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "sql_query_live" ->
      // the seeded table's formula, inlined: tier/credit derive from the
      // key exactly as seed() inserts them; %10==7 keys were never seeded
      """SELECT event_id, user_id % 50 AS acct,
        |  CASE WHEN (user_id % 50) % 10 = 7 THEN NULL
        |       WHEN (user_id % 50) % 4 = 0 THEN 'pro' ELSE 'std' END AS tier,
        |  CASE WHEN (user_id % 50) % 10 = 7 THEN NULL
        |       ELSE ((user_id % 50) * 29) % 83 END AS credit
        |FROM events
        |ORDER BY event_id""".stripMargin
  )
}
