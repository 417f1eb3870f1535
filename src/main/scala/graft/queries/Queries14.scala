package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF
import graft.queries.IntIdioms.nearestRank

/** SURVEY §2 additions (round 5 continuation #2):
  *
  *  - `vocab_count`: the counting job that TRAINS `text_logprob`'s unigram
  *    table — global word counts + document frequencies, ranked. At scale
  *    this is one map-side-combined hash aggregation on the word (the
  *    shuffle carries (word, count) pairs, never text); the milli-nat log
  *    step is a trivial post-pass on the tiny ranked table.
  *  - `zorder_layout`: multi-dimensional clustering via bit-interleaved
  *    Z-values (the Delta/Iceberg Z-ORDER layout). Interleaving is exact
  *    integer bit math — identical in both engines — and the oracle checks
  *    the property the layout exists for: with buckets = the top 2k bits of
  *    the Z-value, EVERY bucket confines BOTH dimensions to a 2^(16−k)-wide
  *    window, so min/max file statistics prune range predicates on either
  *    dimension. (A single-column sort would confine one dimension and
  *    leave the other spanning the full range.)
  */
object Queries14 extends QuerySet {
  private val TopK = 32
  // 8-bit dims: the synthetic events carry ~150 users over ~720 hours, so
  // 8 modular bits per dimension exercise the full bucket space (16-bit
  // dims would collapse every row into one z-prefix and prove nothing);
  // the interleave itself is width-generic
  private val ZBits = 8 // bits per dimension; z-value uses 2·ZBits
  private val BucketTopBits = 3 // per-dimension prefix bits in the bucket id

  private def zInterleave(x: Column, y: Column): Column =
    graft.functions.LayoutF.zInterleave(x, y, ZBits)

  private def zInterleaveSql(x: String, y: String): String =
    graft.functions.LayoutF.zInterleaveSql(x, y, ZBits)

  val defs: Map[String, Q] = Map(
    "api_lookup_live" -> { (sp, dir) =>
      // the ApiLookup escape hatch under the ORACLE gate, not just
      // ScalaTest: a deterministic injected transport (the test stand-in
      // for a pooled HTTP client) serves a 50-key account dim with planted
      // misses; the enrichment fetches each distinct key once and
      // broadcast-joins the parsed dim back. The oracle computes the same
      // response formula inline — any drift in distinct-fetch / cache /
      // join-back plumbing shows up as a row mismatch.
      val ev = Tables.events(sp, dir)
        .select(col("event_id"), (col("user_id") % 50).as("acct"))
      val transport: String => Option[String] = { k =>
        val n = k.toLong
        if (n % 10 == 7) None // planted lookup miss
        else Some(s"""{"plan":"${if (n % 3 == 0) "gold" else "basic"}","score":${n * 13 % 97}}""")
      }
      graft.enrich.ApiLookup("acct", transport, "plan STRING, score BIGINT")
        .apply(ev)
        .select(col("event_id"), col("acct"), col("plan"), col("score"))
        .orderBy("event_id")
    },

    "vocab_count" -> { (sp, dir) =>
      // TopK FIRST via orderBy+limit (a distributed TakeOrdered — partial
      // top-k per partition, only K rows reach the driver-side sort), THEN
      // rank the 32 survivors; a row_number over the unpartitioned full
      // vocabulary would funnel every (word, cnt) row into one partition
      val top = Tables.documents(sp, dir)
        .select(col("doc_id"), explode(TextF.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(TopK)
      top.withColumn("rank",
          row_number().over(Window.orderBy(col("cnt").desc, col("word"))).cast("bigint"))
        .select(col("rank"), col("word"), col("cnt"), col("df"))
        .orderBy("rank")
    },

    "zorder_layout" -> { (sp, dir) =>
      val x = pmod(col("user_id"), lit(1L << ZBits)).cast("bigint")
      val y = pmod(expr("ts_us div 3600000000"), lit(1L << ZBits)).cast("bigint")
      Tables.events(sp, dir)
        .select(x.as("x"), y.as("y"))
        .withColumn("z", zInterleave(col("x"), col("y")))
        // bucket = top BucketTopBits bits of EACH dimension (the z-prefix)
        .withColumn("bucket", shiftright(col("z"), 2 * (ZBits - BucketTopBits)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("x").as("x_min"), max("x").as("x_max"),
          min("y").as("y_min"), max("y").as("y_max"))
        .orderBy("bucket")
    },

    "incremental_dedup" -> { (sp, dir) =>
      // The recurring-ingest merge: a new batch ships only documents whose
      // fingerprint is absent from the already-shipped corpus AND unique
      // within the batch (first doc_id wins). Both halves are fingerprint-
      // keyed — the anti-join and the window shuffle the 128-bit key, never
      // text; at 100 TB the shipped side is a bloom-filtered scan of the
      // corpus index, not the corpus. doc_id < 400 plays the shipped corpus,
      // the rest the new batch; duplicates are PLANTED (batch %10==7 docs
      // re-carry a shipped doc's text — donor doc_id % 400 is shipped at ANY
      // corpus scale — and %50==49 docs a batch sibling's) so both rejection
      // paths provably fire — random text never collides. Shipped docs may
      // self-match the donor join; harmless, eff_text only swaps for batch.
      val base = Tables.documents(sp, dir).select(col("doc_id"), col("text"))
      val donor = base.select(col("doc_id").as("d_id"), col("text").as("d_text"))
      // the plant clauses are mutually exclusive, so the donor reference is
      // a DERIVED KEY equi-join (hash join on an 8-byte id) — an OR-of-
      // conditions join would plan as a nested-loop broadcast of the whole
      // text column
      val donorId = when(col("doc_id") % 10 === 7, col("doc_id") % 400)
        .when(col("doc_id") % 50 === 49, col("doc_id") - 9)
      val eff = base.withColumn("donor_id", donorId)
        .join(donor, col("donor_id") === col("d_id"), "left")
        .withColumn("eff_text",
          when(col("doc_id") >= 400 && col("d_id").isNotNull, col("d_text"))
            .otherwise(col("text")))
        .withColumn("fp", TextF.docFingerprint(col("eff_text")))
      val shipped = eff.filter(col("doc_id") < 400).select(col("fp"))
      val batch = eff.filter(col("doc_id") >= 400)
      val wFirst = Window.partitionBy("fp").orderBy("doc_id")
      batch
        .join(shipped, Seq("fp"), "left_anti")
        .withColumn("rk", row_number().over(wFirst))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("fp"))
        .orderBy("doc_id")
    },

    "retention_cohorts" -> { (sp, dir) =>
      // Weekly cohort retention — the product-analytics matrix sessionize/
      // funnel don't cover: users grouped by first-seen week, counted in
      // every later week they return. Two aggregations on the user key
      // (first-seen, distinct activity) that AQE co-partitions, then one
      // small matrix aggregate; all epoch-micros integer arithmetic.
      val weekUs = 7L * 86400L * 1000000L
      val ev = Tables.events(sp, dir)
        .select(col("user_id"), expr(s"ts_us div $weekUs").as("wk"))
      val activity = ev.distinct()
      val cohorts = activity.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      activity.join(cohorts, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_wk", "week_offset")
    },

    "pii_luhn" -> { (sp, dir) =>
      // Credit-card PII detection with Luhn checksum validation — a bare
      // 16-digit regex false-positives on order ids and timestamps; the
      // checksum (sum of digits, doubling odd positions left-to-right on
      // even-length numbers, mod 10 == 0) filters them at zero join cost:
      // one codegen'd projection per row. Cards are PLANTED with a computed
      // check digit (valid on even doc_ids, off-by-one on odd) so both
      // verdicts provably occur — the synth corpus carries no real digits.
      def luhnSum(s: Column, len: Int): Column =
        aggregate(
          transform(sequence(lit(1), lit(len)), i => {
            val d = element_at(split(s, ""), i).cast("long")
            when(i % 2 === 1, when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
          }),
          lit(0L), (acc, x) => acc + x)
      val payload = lpad(((col("doc_id") * 48271 + 11) % 1000000000L).cast("string"), 15, "0")
      val check = (lit(10L) - luhnSum(payload, 15) % 10) % 10
      val digit = when(col("doc_id") % 2 === 0, check).otherwise((check + 1) % 10)
      val withCard = Tables.documents(sp, dir)
        .withColumn("text2", concat(col("text"), lit(" card "), payload, digit.cast("string")))
      withCard
        .withColumn("cands", regexp_extract_all(col("text2"), lit("[0-9]{16}"), lit(0)))
        .withColumn("n_cards", size(col("cands")).cast("bigint"))
        .withColumn("n_valid",
          size(filter(col("cands"), c => luhnSum(c, 16) % 10 === 0)).cast("bigint"))
        .select(col("doc_id"), col("n_cards"), col("n_valid"),
          (col("n_valid") > 0).as("has_pii"))
        .orderBy("doc_id")
    },

    "percentiles_exact" -> { (sp, dir) =>
      // Exact discontinuous percentiles by rank arithmetic (row_number to
      // 1 + (p·(n−1)) div 100): integer-deterministic in both engines —
      // Spark's percentile()/approx interpolate in FP and DuckDB's
      // quantile_disc rounds differently, so neither builtin is portable.
      // One shuffle on the group key; the window and the aggregate share it.
      val cents = round(col("value") * 100).cast("bigint")
      val w = Window.partitionBy("event_type").orderBy(col("v"), col("event_id"))
      val ranked = Tables.events(sp, dir)
        .select(col("event_type"), col("event_id"), cents.as("v"))
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      ranked.groupBy("event_type")
        .agg(max("n").as("n"),
          nearestRank(50, col("v")).as("p50_cents"), nearestRank(95, col("v")).as("p95_cents"),
          nearestRank(99, col("v")).as("p99_cents"))
        .orderBy("event_type")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "api_lookup_live" ->
      // the transport's response formula, inlined: plan/score derive from
      // the key exactly as the injected transport computes them
      """SELECT event_id, user_id % 50 AS acct,
        |  CASE WHEN (user_id % 50) % 10 = 7 THEN NULL
        |       WHEN (user_id % 50) % 3 = 0 THEN 'gold' ELSE 'basic' END AS plan,
        |  CASE WHEN (user_id % 50) % 10 = 7 THEN NULL
        |       ELSE ((user_id % 50) * 13) % 97 END AS score
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "vocab_count" ->
      s"""SELECT CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rank,
         |  word, cnt, df
         |FROM (
         |  SELECT word, CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM (
         |    SELECT doc_id,
         |      unnest(${TextF.TokensSql}) AS word
         |    FROM documents) t
         |  WHERE word <> ''
         |  GROUP BY word) c
         |ORDER BY cnt DESC, word
         |LIMIT $TopK""".stripMargin,

    "zorder_layout" -> {
      val z = zInterleaveSql("x", "y")
      s"""WITH pts AS (
         |  SELECT user_id % ${1L << ZBits} AS x,
         |    (epoch_us(ts) // 3600000000) % ${1L << ZBits} AS y
         |  FROM events
         |), zed AS (
         |  SELECT x, y, ($z) AS z FROM pts
         |)
         |SELECT z >> ${2 * (ZBits - BucketTopBits)} AS bucket,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max,
         |  CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max
         |FROM zed
         |GROUP BY bucket
         |ORDER BY bucket""".stripMargin
    },

    "incremental_dedup" -> {
      // the CASE output is aliased `text` so the shared normalize twin
      // applies VERBATIM; NOT EXISTS (not NOT IN) is the exact semantic
      // twin of Spark's left_anti under NULLs
      s"""WITH eff AS (
         |  SELECT b.doc_id,
         |    CASE WHEN b.doc_id >= 400 AND d.doc_id IS NOT NULL THEN d.text
         |         ELSE b.text END AS text
         |  FROM (
         |    SELECT doc_id, text,
         |      CASE WHEN doc_id % 10 = 7 THEN doc_id % 400
         |           WHEN doc_id % 50 = 49 THEN doc_id - 9 END AS donor_id
         |    FROM documents) b
         |  LEFT JOIN documents d ON d.doc_id = b.donor_id
         |), docs AS (
         |  SELECT doc_id, md5(${graft.functions.TextF.NormalizeTextSql}) AS fp FROM eff
         |), shipped AS (
         |  SELECT fp FROM docs WHERE doc_id < 400
         |), batch AS (
         |  SELECT doc_id, fp FROM docs WHERE doc_id >= 400
         |)
         |SELECT doc_id, fp
         |FROM (
         |  SELECT doc_id, fp,
         |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
         |  FROM batch
         |  WHERE NOT EXISTS (SELECT 1 FROM shipped s WHERE s.fp = batch.fp)
         |) t WHERE rk = 1
         |ORDER BY doc_id""".stripMargin
    },

    "retention_cohorts" -> {
      val weekUs = 7L * 86400L * 1000000L
      s"""WITH activity AS (
         |  SELECT DISTINCT user_id, epoch_us(ts) // $weekUs AS wk FROM events
         |), cohorts AS (
         |  SELECT user_id, CAST(min(wk) AS BIGINT) AS cohort_wk
         |  FROM activity GROUP BY user_id
         |)
         |SELECT cohort_wk, CAST(wk - cohort_wk AS BIGINT) AS week_offset,
         |  CAST(count(DISTINCT activity.user_id) AS BIGINT) AS n_users
         |FROM activity JOIN cohorts ON activity.user_id = cohorts.user_id
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin
    },

    "pii_luhn" -> {
      // the same Luhn fold, generated for DuckDB list ops
      def luhnSql(s: String, len: Int): String =
        s"""list_reduce(list_transform(range(1, ${len + 1}), i ->
           |  CASE WHEN i % 2 = 1
           |    THEN CASE WHEN 2 * CAST(list_extract(string_split($s, ''), i) AS BIGINT) > 9
           |              THEN 2 * CAST(list_extract(string_split($s, ''), i) AS BIGINT) - 9
           |              ELSE 2 * CAST(list_extract(string_split($s, ''), i) AS BIGINT) END
           |    ELSE CAST(list_extract(string_split($s, ''), i) AS BIGINT) END),
           |  (a, b) -> a + b)""".stripMargin.linesIterator.map(_.trim).mkString(" ")
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    concat(text, ' card ', payload,
         |      CAST(CASE WHEN doc_id % 2 = 0 THEN chk ELSE (chk + 1) % 10 END AS VARCHAR)) AS text2
         |  FROM (
         |    SELECT doc_id, text, payload,
         |      (10 - ${luhnSql("payload", 15)} % 10) % 10 AS chk
         |    FROM (
         |      SELECT doc_id, text,
         |        lpad(CAST((doc_id * 48271 + 11) % 1000000000 AS VARCHAR), 15, '0') AS payload
         |      FROM documents) p0) p1
         |), scanned AS (
         |  SELECT doc_id, regexp_extract_all(text2, '[0-9]{16}') AS cands FROM planted
         |)
         |SELECT doc_id,
         |  CAST(len(cands) AS BIGINT) AS n_cards,
         |  CAST(len(list_filter(cands, c -> ${luhnSql("c", 16)} % 10 = 0)) AS BIGINT) AS n_valid,
         |  len(list_filter(cands, c -> ${luhnSql("c", 16)} % 10 = 0)) > 0 AS has_pii
         |FROM scanned
         |ORDER BY doc_id""".stripMargin
    },

    "percentiles_exact" ->
      """WITH ranked AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY CAST(round(value * 100) AS BIGINT), event_id) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events
        |)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(max(CASE WHEN rk = 1 + (50 * (n - 1)) // 100 THEN v END) AS BIGINT) AS p50_cents,
        |  CAST(max(CASE WHEN rk = 1 + (95 * (n - 1)) // 100 THEN v END) AS BIGINT) AS p95_cents,
        |  CAST(max(CASE WHEN rk = 1 + (99 * (n - 1)) // 100 THEN v END) AS BIGINT) AS p99_cents
        |FROM ranked
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin
  )
}
