package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{EventF, TextF}

/** SURVEY §2 batch 6: the dedup *materialization* steps — keep-first corpus
  * filtering (what a training-data pipeline actually ships) and MinHash-LSH
  * band-collision candidate pairs (the step between signatures and
  * verification).
  */
object Queries6 extends QuerySet {
  private[queries] def minhashSigs(sp: SparkSession, dir: String): DataFrame =
    minhashSigsOf(Tables.documents(sp, dir))

  /** Signatures over any (doc_id, text) frame — shared with the
    * incremental ingest gate, which signs a PLANTED effective-text
    * relation rather than the raw corpus. */
  private[queries] def minhashSigsOf(docs: DataFrame): DataFrame =
    minhashSigsFromToks(docs.withColumn("toks", TextF.tokens(col("text"))))

  /** Signatures over an already-tokenized (doc_id, toks) frame — the entry
    * point dedup_method_venn uses so its three detectors share ONE
    * tokenization pass. Since r16 the four seed components come from ONE
    * [[graft.functions.TextF.minhashComponents]] kernel pass over the
    * shingles (the per-seed `array_min(transform(...))` spelling walked the
    * array 4× interpreted); output columns are bit-identical — the
    * differential PropertySpec pins kernel == composable twin.
    * array_distinct dropped: min over a multiset equals min over its
    * distinct set, so the distinct pass only cost. */
  private[graft] def minhashSigsFromToks(toksDf: DataFrame): DataFrame = {
    toksDf
      .withColumn("cs", TextF.minhashComponents(
        TextF.shinglesFromTokens(col("toks"), 3), Seq(0, 1, 2, 3)))
      .select(col("doc_id"), col("cs").getItem(0).as("c0"), col("cs").getItem(1).as("c1"),
        col("cs").getItem(2).as("c2"), col("cs").getItem(3).as("c3"))
      .withColumn("band0", md5(concat(coalesce(col("c0"), lit("")), coalesce(col("c1"), lit(""))).cast("binary")))
      .withColumn("band1", md5(concat(coalesce(col("c2"), lit("")), coalesce(col("c3"), lit(""))).cast("binary")))
  }

  /** LSH candidate generation: docs colliding on either band. Both bands
    * ride one exploded (band_idx, signature) key → a single equi-join, the
    * same shape as dedup_embedding's banded SRP search. The exploded band
    * table is persisted: both sides of the self-join scan it, and without
    * the cache each side recomputes every md5 minhash signature. */
  private[graft] def minhashPairs(sp: SparkSession, dir: String): DataFrame =
    minhashPairsOfSigs(minhashSigs(sp, dir))

  /** Band-collision pairs from any signature frame (minhashSigs* output). */
  private[graft] def minhashPairsOfSigs(sigs: DataFrame): DataFrame = {
    val ex = graft.util.CacheScope.track(sigs.select(col("doc_id"),
      posexplode(array(col("band0"), col("band1")))).select(
      col("doc_id"), col("pos").as("bi"), col("col").as("b")))
    ex.select(col("bi"), col("b"), col("doc_id").as("id_a"))
      .join(ex.select(col("bi"), col("b"), col("doc_id").as("id_b")), Seq("bi", "b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  val defs: Map[String, Q] = Map(
    "dedup_keep_first" -> { (sp, dir) =>
      // the shipped corpus: first doc per exact-dup group survives
      val w = Window.partitionBy(TextF.docFingerprint(col("text"))).orderBy("doc_id")
      Tables.documents(sp, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    },

    "dedup_minhash_pairs" -> { (sp, dir) =>
      minhashPairs(sp, dir).orderBy("id_a", "id_b")
    },

    "dedup_minhash_keep" -> { (sp, dir) =>
      // the end-to-end MinHash dedup: band-collision pairs → connected
      // components (transitive closure) → per cluster only the minimum
      // doc_id ships. The minhash twin of dedup_embedding_keep, with
      // dedup_cluster's closure step in the middle — colliding docs that
      // never shared a band directly still collapse through a common
      // neighbor. Shuffle: bands·N for pairing + one (id) shuffle per
      // closure round; the final keep is a left join on doc_id.
      val pairs = minhashPairs(sp, dir)
      val comp = graft.operators.ConnectedComponents.run(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      Tables.documents(sp, dir).select(col("doc_id"))
        .join(comp.select(col("id").as("doc_id"), col("comp")), Seq("doc_id"), "left")
        .filter(col("comp").isNull || col("comp") === col("doc_id"))
        .select("doc_id").orderBy("doc_id")
    },

    "cross_navigation_ext" -> { (sp, dir) =>
      // synthesize the EXTENDED 7-field _sp (reference CrossNavProps):
      // duid.timestamp.session_id.user_id(b64url).source_id(b64url).platform.reason(b64url)
      // Edge cases in the synthetic universe: URL-SAFE base64 payloads whose
      // standard encoding contains '+'/'/' (the "?>>"-suffixed values), a
      // tab-bearing duid (fixTabsNewlines), a blank session_id (trim filter),
      // and an 8-field value the reference discards entirely.
      val e = col("event_id")
      val s = (c: Column) => c.cast("string")
      def b64u(c: Column) = translate(base64(c.cast("binary")), "+/", "-_")
      val duid = when(e % 10 === 3, concat(lit("d"), s(col("user_id")), lit("\ttab")))
        .otherwise(concat(lit("d"), s(col("user_id"))))
      val sess = when(e % 10 === 5, lit(" ")).otherwise(concat(lit("sess"), s(e % 100)))
      val spExt = concat(
        duid, lit("."), s(e + 1700000000000L), lit("."), sess, lit("."),
        b64u(concat(lit("u"), s(e % 50), lit("?>>"))), lit("."),
        b64u(lit("web?shop>")), lit(".web."),
        b64u(lit("promo link>>?")),
        when(e % 10 === 7, lit(".extra")).otherwise(lit("")))
      Synth.withRaw(Tables.events(sp, dir))
        .withColumn("sp_ext", spExt)
        .select(
          col("event_id"),
          EventF.spField(col("sp_ext"), 1).as("refr_domain_userid"),
          EventF.spField(col("sp_ext"), 2).cast("bigint").as("refr_tstamp_ms"),
          EventF.spField(col("sp_ext"), 3).as("session_id"),
          EventF.spFieldDecoded(col("sp_ext"), 4).as("sp_user_id"),
          EventF.spFieldDecoded(col("sp_ext"), 5).as("source_id"),
          EventF.spField(col("sp_ext"), 6).as("source_platform"),
          EventF.spFieldDecoded(col("sp_ext"), 7).as("reason"))
        .orderBy("event_id")
    }
  )

  private val normSql = graft.functions.TextF.NormalizeTextSql
  private val toksSql = s"string_split($normSql, ' ')"
  private[queries] def shinglesSql(k: Int): String = {
    val parts = (0 until k).map(j => s"list_extract(w, i + $j)").mkString(", ' ', ")
    s"list_transform(range(1, len(w) - ${k - 2}), i -> concat($parts))"
  }

  /** The sigs→pairs CTE body (no WITH keyword) shared by every oracle that
    * consumes MinHash band-collision candidates — dedup_minhash_pairs,
    * dedup_minhash_keep and Queries20's dedup_edit_verify. ONE spelling so
    * the three oracles cannot drift from [[minhashPairs]]. */
  /** The per-doc MinHash component CTE (`comps(doc_id, c0..c3)`) over any
    * (doc_id, text) relation — split out of [[MinhashPairsCteSql]] so the
    * estimator-quality oracle (minhash_recall) and the incremental ingest
    * gate (incremental_minhash, over the planted `eff` relation) read the
    * SAME component spelling. */
  private[queries] def minhashCompsCteSqlFrom(rel: String): String = {
    def comp(seed: Int) = s"list_min(list_transform(sh, s -> md5(concat('$seed:', s))))"
    s"""comps AS (
       |  SELECT doc_id, ${comp(0)} AS c0, ${comp(1)} AS c1, ${comp(2)} AS c2, ${comp(3)} AS c3
       |  FROM (SELECT doc_id, list_distinct(${shinglesSql(3)}) AS sh
       |        FROM (SELECT doc_id, $toksSql AS w FROM $rel) t1) t2
       |)""".stripMargin
  }

  private[queries] val MinhashComponentsCteSql: String = minhashCompsCteSqlFrom("documents")

  private[queries] val MinhashPairsCteSql: String = {
    s"""$MinhashComponentsCteSql,
       |sigs AS (
       |  SELECT doc_id,
       |    md5(concat(coalesce(c0, ''), coalesce(c1, ''))) AS band0,
       |    md5(concat(coalesce(c2, ''), coalesce(c3, ''))) AS band1
       |  FROM comps
       |),
       |pairs AS (
       |  SELECT DISTINCT id_a, id_b FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |    FROM sigs a JOIN sigs b ON a.band0 = b.band0 AND a.doc_id < b.doc_id
       |    UNION ALL
       |    SELECT a.doc_id, b.doc_id
       |    FROM sigs a JOIN sigs b ON a.band1 = b.band1 AND a.doc_id < b.doc_id
       |  ) u
       |)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "dedup_keep_first" ->
      s"""SELECT doc_id, n_chars
         |FROM (
         |  SELECT doc_id, n_chars,
         |    row_number() OVER (PARTITION BY md5($normSql) ORDER BY doc_id) AS rk
         |  FROM documents
         |) t WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    "dedup_minhash_pairs" ->
      s"""WITH $MinhashPairsCteSql
         |SELECT id_a, id_b FROM pairs ORDER BY id_a, id_b""".stripMargin,

    "dedup_minhash_keep" ->
      s"""WITH RECURSIVE $MinhashPairsCteSql,
         |edges AS (
         |  SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |),
         |reach(id, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.id
         |),
         |cluster_min AS (
         |  SELECT id, min(r) AS cmin FROM reach GROUP BY id
         |)
         |SELECT doc_id FROM documents LEFT JOIN cluster_min ON doc_id = id
         |WHERE id IS NULL OR doc_id = cmin
         |ORDER BY doc_id""".stripMargin,

    "cross_navigation_ext" -> {
      // mirrors EventF.spField/spFieldDecoded exactly: >7 fields → all null,
      // duid → fixTabsNewlines, trim-blank filters, URL-safe base64 decode
      def f(i: Int) = s"CASE WHEN len(p) <= 7 THEN nullif(list_extract(p, $i), '') END"
      def dec(i: Int) =
        s"decode(from_base64(translate(${f(i)}, '-_', '+/')))"
      def blankFiltered(expr: String) = s"CASE WHEN trim($expr) = '' THEN NULL ELSE $expr END"
      Synth.withCte(
        s"""SELECT event_id,
           |  nullif(regexp_replace(regexp_replace(${f(1)}, '\t', '    ', 'g'), '[[:cntrl:]]', '', 'g'), '') AS refr_domain_userid,
           |  CAST(${f(2)} AS BIGINT) AS refr_tstamp_ms,
           |  ${blankFiltered(f(3))} AS session_id,
           |  ${blankFiltered(dec(4))} AS sp_user_id,
           |  ${blankFiltered(dec(5))} AS source_id,
           |  ${blankFiltered(f(6))} AS source_platform,
           |  ${blankFiltered(dec(7))} AS reason
           |FROM (
           |  SELECT event_id, string_split(concat(
           |    CASE WHEN event_id % 10 = 3 THEN concat('d', user_id, chr(9), 'tab')
           |         ELSE concat('d', user_id) END,
           |    '.', event_id + 1700000000000, '.',
           |    CASE WHEN event_id % 10 = 5 THEN ' ' ELSE concat('sess', event_id % 100) END, '.',
           |    translate(to_base64(encode(concat('u', event_id % 50, '?>>'))), '+/', '-_'), '.',
           |    translate(to_base64(encode('web?shop>')), '+/', '-_'), '.web.',
           |    translate(to_base64(encode('promo link>>?')), '+/', '-_'),
           |    CASE WHEN event_id % 10 = 7 THEN '.extra' ELSE '' END), '.') AS p
           |  FROM raw) t ORDER BY event_id""".stripMargin)
    }
  )
}
