package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.adapters.Adapters
import graft.functions.TextF

/** SURVEY §2 batch 10 (round 5): the last three lib-only vendor adapters
  * promoted to oracle-checked keys (Mailchimp single-event JSON, Sendgrid
  * batched-array explode, PagerDuty messages-array explode — reference
  * `adapters/registry/MailchimpAdapter.scala` / `SendgridAdapter.scala` /
  * `PagerdutyAdapter.scala`), plus three training-data-pipeline operators:
  *
  *  - `decontaminate`: benchmark n-gram decontamination — flag corpus docs
  *    sharing any word 8-gram with a held-out benchmark set. The benchmark
  *    shingle set is broadcast (eval suites are fixed-size regardless of
  *    corpus scale), so the corpus side stays a narrow scan; the only
  *    shuffle carries matched (doc_id, shingle) pairs.
  *  - `pii_scrub_text`: email/phone redaction over document text — the
  *    corpus-side twin of the event-side PII enrichments.
  *  - `corpus_filter`: the composed "shipped dataset" query — exact-dedup
  *    keeper ∧ language gate ∧ quality gates in one pass (one window over
  *    the fingerprint + a codegen'd filter; no joins).
  */
object Queries10 extends QuerySet {
  private def ev(sp: SparkSession, dir: String): DataFrame =
    // fan out before the CPU-bound payload-decode chain (see Queries9.ev):
    // a single-row-group test file is one split, the decode is 100x the
    // 16-byte-per-row exchange this adds
    Tables.events(sp, dir).select(col("event_id"), col("user_id")).repartition()

  /** Benchmark-membership predicate (shared Spark ↔ oracle constant): a
    * deterministic ~1% slice of `documents` stands in for the eval suite. */
  private[queries] val BenchMod = 101
  private[queries] val BenchRem = 7

  /** Decontamination shingle width (13-gram is the common LLM choice; 8
    * keeps the synthetic corpus's planted dups detectable at sf0.01). */
  private[queries] val DecontamK = 8

  // ---- synthetic PII injection (Spark and SQL twins in lockstep) ----
  private[queries] def piiText(d: Column, text: Column): Column = {
    val s = (c: Column) => c.cast("string")
    concat(text,
      when(d % 4 === 0, concat(lit(" contact user"), s(d % 50), lit("@example.com for details")))
        .when(d % 4 === 1, concat(lit(" call 555-"), s(d % 900 + 100), lit("-"), s(d % 9000 + 1000), lit(" now")))
        .when(d % 4 === 2, concat(lit(" email admin"), s(d % 9), lit("@corp.example.org or dial 555-123-"), s(d % 1000 + 4000)))
        .otherwise(lit("")))
  }
  private[queries] val piiTextSql: String =
    """concat(text, CASE
      |  WHEN doc_id % 4 = 0 THEN concat(' contact user', doc_id % 50, '@example.com for details')
      |  WHEN doc_id % 4 = 1 THEN concat(' call 555-', doc_id % 900 + 100, '-', doc_id % 9000 + 1000, ' now')
      |  WHEN doc_id % 4 = 2 THEN concat(' email admin', doc_id % 9, '@corp.example.org or dial 555-123-', doc_id % 1000 + 4000)
      |  ELSE '' END)""".stripMargin.replace("\n", " ")

  val defs: Map[String, Q] = Map(
    "adapter_mailchimp" -> { (sp, dir) =>
      val e = col("event_id")
      val s = (c: Column) => c.cast("string")
      val typ = when(e % 3 === 0, lit("subscribe"))
        .when(e % 3 === 1, lit("unsubscribe")).otherwise(lit("profile"))
      val body = concat(
        lit("{\"type\":\""), typ,
        lit("\",\"fired_at\":\"2024-01-01 00:00:00\",\"data\":{\"id\":\"mc"), s(e),
        lit("\",\"email\":\"u"), s(e % 50),
        lit("@example.com\",\"list_id\":\"L"), s(e % 5), lit("\"}}"))
      Adapters.mailchimp(ev(sp, dir).withColumn("payload", body), "payload")
        .select(col("event_id"), col("event_name"), col("fired_at"),
          col("email"), col("list_id"))
        .orderBy("event_id")
    },

    "adapter_sendgrid" -> { (sp, dir) =>
      val e = col("event_id")
      val s = (c: Column) => c.cast("string")
      val body = concat(
        lit("{\"events\":[{\"email\":\"u"), s(e % 50),
        lit("@example.com\",\"timestamp\":"), s(e),
        lit(",\"event\":\"delivered\",\"sg_event_id\":\"sg"), s(e),
        lit("-0\"},{\"email\":\"u"), s(e % 50),
        lit("@example.com\",\"timestamp\":"), s(e + 1),
        lit(",\"event\":\"open\",\"sg_event_id\":\"sg"), s(e), lit("-1\"}]}"))
      Adapters.sendgrid(ev(sp, dir).withColumn("payload", body), "payload")
        .select(col("event_id"), col("event_name"), col("email"),
          col("event_ts"), col("vendor_event_id"))
        .orderBy("event_id", "event_name")
    },

    "adapter_pagerduty" -> { (sp, dir) =>
      val e = col("event_id")
      val s = (c: Column) => c.cast("string")
      val body = concat(
        lit("{\"messages\":[{\"type\":\"incident.trigger\",\"created_on\":\"2024-01-01T00:00:00Z\","),
        lit("\"data\":{\"incident\":{\"id\":\"P"), s(e % 100),
        lit("\",\"incident_number\":"), s(e % 1000), lit("}}}]}"))
      Adapters.pagerduty(ev(sp, dir).withColumn("payload", body), "payload")
        .select(col("event_id"), col("event_name"), col("created_on"),
          col("incident_id"), col("incident_number"))
        .orderBy("event_id")
    },

    "salted_join" -> { (sp, dir) =>
      import sp.implicits._
      // skew-safe equi-join (operators/SkewJoin): 90% of events share one
      // segment key — the salted join spreads that hot key over 8 reducers
      // and must stay row-identical to the plain join, which is what this
      // oracle pins (the SaltedAgg pattern, join-side)
      val e = col("event_id")
      val seg = when(e % 10 < 9, lit(0L)).otherwise(e % 5)
      val dim = Seq(
        (0L, "default"), (1L, "bronze"), (2L, "silver"), (3L, "gold"), (4L, "vip")
      ).toDF("seg_id", "seg_label")
      val facts = Tables.events(sp, dir).select(e, seg.as("seg"))
      graft.operators.SkewJoin.innerSalted(
          facts, col("seg"), dim, "seg_id", salt = 8, saltSource = Seq(col("event_id")))
        .select(col("event_id"), col("seg"), col("seg_label"))
        .orderBy("event_id")
    },

    "q14_promo" -> { (sp, dir) =>
      // TPC-H Q14 shape: promo-class revenue share over one ship month.
      // part broadcasts; the date filter pushes to the parquet scan; the
      // share is exact integer basis points (truncating integer division in BOTH
      // engines — a double ratio could round differently).
      val cents = (c: Column) => round(c * 100).cast("bigint")
      val li = Tables.lineitem(sp, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-02-01").cast("timestamp"))
      li.join(broadcast(Tables.part(sp, dir)), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "ECONOMY",
            cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
            .otherwise(lit(0L))).as("promo_e4"),
          sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("total_e4"))
        .select(col("promo_e4"), col("total_e4"),
          expr("CAST((10000 * promo_e4) DIV total_e4 AS BIGINT)").as("promo_share_bp"))
    },

    "q19_brackets" -> { (sp, dir) =>
      // TPC-H Q19 shape: an OR of bracketed (brand, size, quantity)
      // predicates — the disjunction stays inside one codegen'd filter over
      // the broadcast join, no union-of-scans
      val cents = (c: Column) => round(c * 100).cast("bigint")
      val q = col("l_quantity")
      val pred =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) && q.between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) && q.between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) && q.between(20, 30))
      Tables.lineitem(sp, dir)
        .join(broadcast(Tables.part(sp, dir)), col("l_partkey") === col("p_partkey"))
        .filter(pred)
        .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("revenue_e4"),
          count(lit(1)).as("n_lines"))
    },

    "adapter_ga" -> { (sp, dir) =>
      // Google Analytics measurement protocol: form-encoded hit payloads
      // through the dup-safe last-wins querystring map (the one adapter
      // family still exercising qsMapLastWins in an oracle query)
      val e = col("event_id")
      val s = (c: Column) => c.cast("string")
      val body = concat(
        lit("t="), when(e % 2 === 0, lit("pageview")).otherwise(lit("event")),
        lit("&cid=c"), s(e % 100), lit("&uid=u"), s(col("user_id")),
        lit("&dt=T"), s(e % 7), lit("&ec=cat"), s(e % 3),
        lit("&ea=act"), s(e % 5), lit("&ev="), s(e % 10),
        lit("&ev="), s(e % 13)) // repeated param: last one wins
      Adapters.googleAnalytics(ev(sp, dir).withColumn("payload", body), "payload")
        .select(col("event_id"), col("hit_type"), col("client_id"), col("ga_user_id"),
          col("document_title"), col("event_category"), col("event_action"),
          col("event_value").cast("bigint").as("event_value"))
        .orderBy("event_id")
    },

    "ip_geo_lookup_v6" -> { (sp, dir) =>
      import sp.implicits._
      // MaxMind-style IPv6 geo blocks. 2^128 overflows DECIMAL(38,0), so the
      // key splits as (canonical /64 prefix: equi-key) × (low 64 bits:
      // DECIMAL(20,0) range key). Synthetic allocation: the documentation
      // /64 carved into 32 aligned 2^59-wide country blocks; the fact
      // address varies through the full low-64 space so every block is hit.
      val W = BigInt(1) << 59
      val dim = graft.queries.Queries2.GeoCountries.zipWithIndex.map { case (cc, i) =>
        // aligned power-of-two blocks → exactly one bucket per block
        ("2001:db8:1:2", i.toLong, BigDecimal(BigInt(i) * W), BigDecimal((BigInt(i) + 1) * W - 1), cc)
      }.toDF("pfx", "bkt", "lo", "hi", "geo_country")
        .select(col("pfx"), col("bkt"), col("lo").cast("decimal(20,0)").as("lo"),
          col("hi").cast("decimal(20,0)").as("hi"), col("geo_country"))
      val e = col("event_id")
      val addr = concat(
        lit("2001:db8:1:2:"), lower(hex((e * 7) % 65536)), lit(":"),
        lower(hex(e % 65521)), lit(":"), lower(hex((e * 13) % 65521)), lit(":"),
        lower(hex((e * 29) % 65521)))
      val facts = Tables.events(sp, dir).select(e, addr.as("ipv6_addr"))
        .withColumn("pfx", graft.functions.IpF.ipv6PrefixCanonical(col("ipv6_addr")))
        .withColumn("bkt", shiftright(graft.functions.IpF.ipv6Lo64Hi48(col("ipv6_addr")), 43))
        .withColumn("lo64", graft.functions.IpF.ipv6Lo64Dec(col("ipv6_addr")))
      facts.join(broadcast(dim),
          facts("pfx") === dim("pfx") && facts("bkt") === dim("bkt") &&
            col("lo64") >= col("lo") && col("lo64") <= col("hi"), "left")
        .select(col("event_id"), col("ipv6_addr"), col("geo_country"))
        .orderBy("event_id")
    },

    "decontaminate" -> { (sp, dir) =>
      val docs = Tables.documents(sp, dir)
        .withColumn("toks", TextF.tokens(col("text")))
        .withColumn("sh", array_distinct(TextF.shinglesFromTokens(col("toks"), DecontamK)))
      // the benchmark shingle set: distinct 8-grams of the held-out slice.
      // Fixed-size by construction (eval suites don't grow with the corpus)
      // → broadcast; the corpus side never shuffles its text or shingles,
      // only matched (doc_id, shingle) pairs reach the final aggregation.
      val bench = docs.filter(col("doc_id") % BenchMod === BenchRem)
        .select(explode(col("sh")).as("s")).distinct()
      docs.filter(col("doc_id") % BenchMod =!= BenchRem)
        .select(col("doc_id"), explode(col("sh")).as("s"))
        .join(broadcast(bench), Seq("s"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit_ngrams"))
        .orderBy("doc_id")
    },

    "pii_scrub_text" -> { (sp, dir) =>
      val d = col("doc_id")
      Tables.documents(sp, dir)
        .withColumn("txt", piiText(d, col("text")))
        .select(
          d,
          TextF.emailCount(col("txt")).as("n_emails"),
          TextF.phoneCount(col("txt")).as("n_phones"),
          // only the tail differs from the original text; ship the scrubbed
          // tail so the oracle row stays small and the diff visible
          TextF.scrubPii(col("txt")).substr(length(col("text")) + lit(1), lit(100)).as("scrubbed_tail"))
        .orderBy("doc_id")
    },

    "corpus_filter" -> { (sp, dir) =>
      corpusGated(sp, dir)
        .select(col("doc_id"), col("n_tokens"))
        .orderBy("doc_id")
    }
  )

  /** The shipped-corpus gate: exact-dedup keeper ∧ en ∧ shape gates — one
    * window on the fingerprint (the dedup shuffle) + a narrow filter; ratio
    * comparisons stay in double (a single IEEE division of two ints is
    * bit-identical across engines), outputs are ints. Shared by
    * corpus_filter and Queries24's corpus_pipeline. */
  private[queries] def corpusGated(sp: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(sp, dir)
      .withColumn("fp", TextF.docFingerprint(col("text")))
      .withColumn("keeper", min("doc_id").over(Window.partitionBy("fp")))
      .withColumn("n_tokens", TextF.tokenCount(col("text")))
    d.filter(col("doc_id") === col("keeper"))
      .filter(TextF.langGuess(col("text")) === "en")
      .filter(col("n_tokens") >= 30 && col("n_tokens") <= 5000)
      .filter(TextF.uniqueTokenRatio(col("text")) >= 0.10)
      .filter(TextF.punctRatio(col("text")) <= 0.20)
  }

  /** Docs (excluding the bench slice itself) sharing any DecontamK-gram
    * with the benchmark slice — the decontaminate exclusion set, shared
    * with corpus_pipeline. Bench shingles broadcast. */
  private[queries] def contaminatedDocs(sp: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(sp, dir)
      .withColumn("toks", TextF.tokens(col("text")))
      .withColumn("sh", array_distinct(TextF.shinglesFromTokens(col("toks"), DecontamK)))
    val bench = docs.filter(col("doc_id") % BenchMod === BenchRem)
      .select(explode(col("sh")).as("s")).distinct()
    docs.filter(col("doc_id") % BenchMod =!= BenchRem)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .join(broadcast(bench), Seq("s"))
      .select("doc_id").distinct()
  }

  // ---- DuckDB twins ----

  private val normSql = graft.functions.TextF.NormalizeTextSql
  private val toksSql = s"string_split($normSql, ' ')"
  private def tokCntSql(norm: String, toks: String) =
    s"CASE WHEN $norm = '' THEN 0 ELSE len($toks) END"
  /** SQL twin of TextF.shingles(k) over a token list aliased `w`. */
  private def shinglesSql(k: Int): String = {
    val parts = (0 until k).map(j => s"list_extract(w, i + $j)").mkString(", ' ', ")
    s"list_transform(range(1, len(w) - ${k - 2}), i -> concat($parts))"
  }
  private val stopListSql = TextF.Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  val oracles: Map[String, String] = Map(
    "adapter_mailchimp" ->
      """SELECT event_id,
        |  CASE event_id % 3 WHEN 0 THEN 'subscribe' WHEN 1 THEN 'unsubscribe' ELSE 'profile' END AS event_name,
        |  '2024-01-01 00:00:00' AS fired_at,
        |  concat('u', event_id % 50, '@example.com') AS email,
        |  concat('L', event_id % 5) AS list_id
        |FROM events ORDER BY event_id""".stripMargin,

    "adapter_sendgrid" ->
      """SELECT event_id, v.nm AS event_name,
        |  concat('u', event_id % 50, '@example.com') AS email,
        |  event_id + v.delta AS event_ts,
        |  concat('sg', event_id, '-', v.delta) AS vendor_event_id
        |FROM events CROSS JOIN (VALUES ('delivered', 0), ('open', 1)) v(nm, delta)
        |ORDER BY event_id, event_name""".stripMargin,

    "adapter_pagerduty" ->
      """SELECT event_id, 'incident.trigger' AS event_name,
        |  '2024-01-01T00:00:00Z' AS created_on,
        |  concat('P', event_id % 100) AS incident_id,
        |  event_id % 1000 AS incident_number
        |FROM events ORDER BY event_id""".stripMargin,

    "salted_join" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 10 < 9 THEN 0 ELSE event_id % 5 END AS seg,
        |  CASE CASE WHEN event_id % 10 < 9 THEN 0 ELSE event_id % 5 END
        |    WHEN 0 THEN 'default' WHEN 1 THEN 'bronze' WHEN 2 THEN 'silver'
        |    WHEN 3 THEN 'gold' WHEN 4 THEN 'vip' END AS seg_label
        |FROM events ORDER BY event_id""".stripMargin,

    "q14_promo" ->
      """SELECT promo_e4, total_e4, CAST((10000 * promo_e4) // total_e4 AS BIGINT) AS promo_share_bp
        |FROM (
        |  SELECT
        |    CAST(sum(CASE WHEN p_type = 'ECONOMY'
        |      THEN CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |      ELSE 0 END) AS BIGINT) AS promo_e4,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS total_e4
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-02-01'
        |) t""".stripMargin,

    "q19_brackets" ->
      """SELECT
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "adapter_ga" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 2 = 0 THEN 'pageview' ELSE 'event' END AS hit_type,
        |  concat('c', event_id % 100) AS client_id,
        |  concat('u', user_id) AS ga_user_id,
        |  concat('T', event_id % 7) AS document_title,
        |  concat('cat', event_id % 3) AS event_category,
        |  concat('act', event_id % 5) AS event_action,
        |  event_id % 13 AS event_value
        |FROM events ORDER BY event_id""".stripMargin,

    "ip_geo_lookup_v6" -> {
      val w = (BigInt(1) << 59).toString
      val countries = graft.queries.Queries2.GeoCountries.map(c => s"'$c'").mkString(", ")
      // the oracle PARSES the address string back like the Spark side does
      // (split + hex cast), then mirrors the aligned-block allocation as a
      // direct index — HUGEINT carries the unsigned low-64 exactly
      s"""WITH f AS (
         |  SELECT event_id,
         |    concat('2001:db8:1:2:', lower(hex((event_id * 7) % 65536)), ':',
         |           lower(hex(event_id % 65521)), ':', lower(hex((event_id * 13) % 65521)), ':',
         |           lower(hex((event_id * 29) % 65521))) AS ipv6_addr
         |  FROM events
         |), p AS (
         |  SELECT event_id, ipv6_addr, string_split(ipv6_addr, ':') AS g FROM f
         |), v AS (
         |  SELECT event_id, ipv6_addr,
         |    ((CAST(CAST(concat('0x', g[5]) AS BIGINT) AS HUGEINT) * 65536
         |      + CAST(concat('0x', g[6]) AS BIGINT)) * 65536
         |      + CAST(concat('0x', g[7]) AS BIGINT)) * 65536
         |      + CAST(concat('0x', g[8]) AS BIGINT) AS lo64
         |  FROM p
         |)
         |SELECT event_id, ipv6_addr,
         |  list_extract([$countries], CAST(lo64 // $w AS INTEGER) + 1) AS geo_country
         |FROM v ORDER BY event_id""".stripMargin
    },

    "decontaminate" ->
      s"""WITH docs AS (
         |  SELECT doc_id, list_distinct(${shinglesSql(DecontamK)}) AS sh
         |  FROM (SELECT doc_id, $toksSql AS w FROM documents) t
         |),
         |bench AS (
         |  SELECT DISTINCT unnest(sh) AS s FROM docs WHERE doc_id % $BenchMod = $BenchRem
         |),
         |corpus AS (
         |  SELECT doc_id, unnest(sh) AS s FROM docs WHERE doc_id % $BenchMod <> $BenchRem
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_ngrams
         |FROM corpus JOIN bench USING (s)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "pii_scrub_text" -> {
      // standard-SQL strings keep the backslash literal, so the runtime
      // pattern (one backslash before the dot) passes through unchanged
      val email = TextF.EmailPattern
      val phone = TextF.PhonePattern
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(txt, '$email')) AS INTEGER) AS n_emails,
         |  CAST(len(regexp_extract_all(txt, '$phone')) AS INTEGER) AS n_phones,
         |  substr(regexp_replace(regexp_replace(txt, '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g'),
         |         length(text) + 1, 100) AS scrubbed_tail
         |FROM (SELECT doc_id, text, $piiTextSql AS txt FROM documents) t
         |ORDER BY doc_id""".stripMargin
    },

    "corpus_filter" ->
      s"""$CorpusGatedSql
         |ORDER BY doc_id""".stripMargin
  )

  /** SQL twin of [[corpusGated]] projected to (doc_id, n_tokens) — no ORDER
    * BY so corpus_pipeline can reuse it as a CTE body. */
  private[queries] lazy val CorpusGatedSql: String = {
    val norm = normSql
    val nTok = tokCntSql(norm, toksSql)
    val uniqRatio = s"CASE WHEN $nTok = 0 THEN 0.0 ELSE CAST(len(list_distinct($toksSql)) AS DOUBLE) / $nTok END"
    val stopRatio = s"CASE WHEN $nTok = 0 THEN 0.0 ELSE CAST(len(list_filter($toksSql, t -> list_contains($stopListSql, t))) AS DOUBLE) / $nTok END"
    val noSpace = raw"regexp_replace(text, '\s', '', 'g')"
    val punctRatio = s"CASE WHEN length($noSpace) = 0 THEN 0.0 ELSE CAST(length(regexp_replace($noSpace, '[a-zA-Z0-9]', '', 'g')) AS DOUBLE) / length($noSpace) END"
    s"""SELECT doc_id, n_tokens FROM (
       |  SELECT doc_id, $nTok AS n_tokens,
       |    min(doc_id) OVER (PARTITION BY md5($norm)) AS keeper,
       |    $stopRatio AS stop_r, $uniqRatio AS uniq_r, $punctRatio AS punct_r
       |  FROM documents) t
       |WHERE doc_id = keeper AND stop_r >= 0.08
       |  AND n_tokens BETWEEN 30 AND 5000
       |  AND uniq_r >= 0.10 AND punct_r <= 0.20""".stripMargin
  }

  /** SQL twin of [[contaminatedDocs]] as CTE bodies (no WITH): `consh`
    * (distinct per-doc shingles), `bench`, `contaminated`. */
  private[queries] lazy val ContaminatedCteSql: String = {
    def shingles = {
      val parts = (0 until DecontamK).map(j => s"list_extract(w, i + $j)").mkString(", ' ', ")
      s"list_transform(range(1, len(w) - ${DecontamK - 2}), i -> concat($parts))"
    }
    s"""consh AS (
       |  SELECT doc_id, unnest(list_distinct($shingles)) AS s
       |  FROM (SELECT doc_id, $toksSql AS w FROM documents) t
       |),
       |bench AS (
       |  SELECT DISTINCT s FROM consh WHERE doc_id % $BenchMod = $BenchRem
       |),
       |contaminated AS (
       |  SELECT DISTINCT doc_id FROM consh JOIN bench USING (s)
       |  WHERE doc_id % $BenchMod <> $BenchRem
       |)""".stripMargin
  }
}
