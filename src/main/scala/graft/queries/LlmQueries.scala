package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{SimF, TextF}
import graft.operators.PairEngine
import graft.operators.PairEngine.StopShingleDf

/** SURVEY §2.D — LLM training-data operators over `documents`/`embeddings`:
  * dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity search
  * (brute-force cosine baseline + sign-random-projection LSH), text analysis
  * and multimodal binary-column plumbing.
  *
  * Scale notes: minhash/LSH shuffle volume is O(bands·N) not O(N²);
  * `ngram_jaccard` generates candidate pairs only for docs sharing a shingle;
  * `sim_bruteforce` is the small-query-set baseline and `sim_lsh` the
  * bucketed 100 TB path.
  */
object LlmQueries extends QuerySet {
  /** SQL twin of TextF.normalizeText. */
  private val normSql = graft.functions.TextF.NormalizeTextSql
  /** SQL twin of TextF.tokens (over the squeezed normalized text). */
  private val toksSql = s"string_split($normSql, ' ')"

  private def tokCntSql(norm: String, toks: String) =
    s"CASE WHEN $norm = '' THEN 0 ELSE len($toks) END"

  /** SQL twin of TextF.shingles(k): empty list when fewer than k words. */
  private def shinglesSql(toks: String, k: Int): String = {
    val parts = (0 until k).map(j => s"list_extract(w, i + $j)").mkString(", ' ', ")
    s"list_transform(range(1, len(w) - ${k - 2}), i -> concat($parts))"
  }

  private val stopListSql = TextF.Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  /** SQL twin of SimF.dot: element products in double, strict left fold. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> CAST(list_extract($a, i) AS DOUBLE) * CAST(list_extract($b, i) AS DOUBLE)), (x, y) -> x + y)"

  /** `(doc_id, sh)` over `documents` in the pair engine's shingle spelling
    * (one tokenization pass per doc). */
  private[queries] def shingleDocs(sp: SparkSession, dir: String): DataFrame =
    Tables.documents(sp, dir)
      .select(col("doc_id"), PairEngine.shingleSets(TextF.tokens(col("text"))).as("sh"))

  val defs: Map[String, Q] = Map(
    "dedup_exact" -> ((sp, dir) =>
      Tables.documents(sp, dir)
        .groupBy(TextF.docFingerprint(col("text")).as("fp"))
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_dupes"))
        .orderBy("fp")),

    "dedup_minhash" -> { (sp, dir) =>
      // r16: one fused minhash kernel pass (see Queries6.minhashSigsFromToks)
      Tables.documents(sp, dir)
        .withColumn("toks", TextF.tokens(col("text")))
        .withColumn("cs", TextF.minhashComponents(
          TextF.shinglesFromTokens(col("toks"), 3), Seq(0, 1, 2, 3)))
        .select(col("doc_id"), col("cs").getItem(0).as("c0"), col("cs").getItem(1).as("c1"),
          col("cs").getItem(2).as("c2"), col("cs").getItem(3).as("c3"))
        .withColumn("band0", md5(concat(coalesce(col("c0"), lit("")), coalesce(col("c1"), lit(""))).cast("binary")))
        .withColumn("band1", md5(concat(coalesce(col("c2"), lit("")), coalesce(col("c3"), lit(""))).cast("binary")))
        .orderBy("doc_id")
    },

    "dedup_simhash" -> ((sp, dir) =>
      Tables.documents(sp, dir)
        .select(col("doc_id"), TextF.simhash16(col("text")).as("simhash"))
        .orderBy("doc_id")),

    "ngram_jaccard" -> ((sp, dir) =>
      PairEngine.jaccard(shingleDocs(sp, dir))
        .select("id_a", "id_b", "shared", "jac_permille")
        .orderBy("id_a", "id_b")),

    "sim_bruteforce" -> { (sp, dir) =>
      // norms materialized per side before the pair join — O(N+Q) dot
      // products instead of O(N·Q) recomputation inside the cosine
      val emb = Tables.embeddings(sp, dir)
      val qs = broadcast(emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"), SimF.norm(col("embedding")).as("qn")))
      val cand = emb
        .select(col("vec_id").as("nid"), col("embedding").as("nv"), SimF.norm(col("embedding")).as("nn"))
      val denom = col("qn") * col("nn")
      val cos = when(denom === 0.0, lit(null)).otherwise(SimF.dot(col("qv"), col("nv")) / denom)
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      cand.join(qs, col("qid") =!= col("nid"))
        .withColumn("cos", cos)
        .filter(col("cos").isNotNull)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("nid"), round(col("cos") * 1e6).cast("bigint").as("cos_e6"))
        .orderBy("qid", "rk")
    },

    "sim_lsh" -> ((sp, dir) =>
      // banded SRP index: 4 × 16-bit signature tables (the search side joins
      // per band and unions candidates — dedup_embedding is the full
      // pipeline; this emits the index itself). Literal planes, no per-row md5.
      Tables.embeddings(sp, dir)
        .select(col("vec_id"), SimF.srpBands(col("embedding"), 4, 16, 64).as("bands"))
        .select(Seq(col("vec_id")) ++
          (0 until 4).map(b => element_at(col("bands"), b + 1).as(s"band$b")): _*)
        .orderBy("vec_id")),

    "text_langid" -> ((sp, dir) =>
      Tables.documents(sp, dir)
        .select(col("lang"), TextF.langGuess(col("text")).as("guess"))
        .groupBy("lang", "guess").agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "guess")),

    "text_quality" -> { (sp, dir) =>
      Tables.documents(sp, dir).select(
        col("doc_id"),
        TextF.tokenCount(col("text")).as("n_tokens"),
        round(TextF.stopwordRatio(col("text")) * 1000).cast("bigint").as("stop_permille"),
        round(TextF.punctRatio(col("text")) * 1000).cast("bigint").as("punct_permille"),
        round(TextF.uniqueTokenRatio(col("text")) * 1000).cast("bigint").as("uniq_permille"),
        (TextF.tokenCount(col("text")) >= 20 &&
          TextF.stopwordRatio(col("text")).between(0.05, 0.6)).as("passes")
      ).orderBy("doc_id")
    },

    "stratified_sample" -> { (sp, dir) =>
      // deterministic hash-mod sampling with per-language rates — the only
      // sampling that works at 100 TB (reproducible, no random(), no
      // driver state): keep when the first md5 byte of the doc id falls
      // under the language's threshold out of 256
      val md = "md5(concat('smp:', CAST(doc_id AS STRING)))"
      val v = expr(s"(instr('0123456789abcdef', substr($md, 1, 1)) - 1) * 16" +
        s" + (instr('0123456789abcdef', substr($md, 2, 1)) - 1)")
      val keepUnder = when(col("lang") === "en", lit(128)) // 50%
        .when(col("lang") === "de", lit(64)) // 25%
        .otherwise(lit(26)) // ~10%
      Tables.documents(sp, dir)
        .withColumn("hv", v)
        .filter(col("hv") < keepUnder)
        .select(col("doc_id"), col("lang"), col("hv").cast("bigint").as("hash_byte"))
        .orderBy("doc_id")
    },

    "token_packing" -> { (sp, dir) =>
      // context-window packing: per source, docs in id order fill
      // fixed-budget bins by token prefix-sum — the sequence-packing
      // preprocessing step, as one window prefix sum (shuffle only on the
      // source key)
      val budget = 2048L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.documents(sp, dir)
        .withColumn("n_tokens", TextF.tokenCount(col("text")).cast("bigint"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr(s"(cum - n_tokens) div ${budget}").as("bin"))
        .orderBy("doc_id")
    },

    "text_gopher_quality" -> { (sp, dir) =>
      // Gopher-style repetition/shape signals (Rae et al. 2021 quality
      // rules): the corpus is single-line word soup, so deterministic
      // 10-word lines are synthesized first ([^ ]+ only — no \\S, whose
      // semantics differ between Java regex and RE2). All metrics stay in
      // INTEGER arithmetic (counts and cross-multiplied thresholds), so
      // the oracle compare is exact — no ratio rounding.
      val lined = regexp_replace(col("text"), "((?:[^ ]+ ){10})", "$1\n")
      val lines = filter(split(lined, "\n"), l => l =!= "")
      val words = filter(split(col("text"), " "), w => w =!= "")
      val nLines = size(lines).cast("bigint")
      val nDup = (size(lines) - size(array_distinct(lines))).cast("bigint")
      val wc = size(words).cast("bigint")
      val wchars = aggregate(words, lit(0L), (acc, w) => acc + length(w))
      Tables.documents(sp, dir).select(
        col("doc_id"),
        nLines.as("n_lines"),
        nDup.as("n_dup_lines"),
        wc.as("word_count"),
        wchars.as("word_chars"),
        // gopher gates: 50..100k words, mean word length 3..10 chars,
        // duplicate-line fraction <= 30% — integer cross-multiplication
        (wc.between(50L, 100000L) &&
          wchars >= wc * 3 && wchars <= wc * 10 &&
          nDup * 10 <= nLines * 3).as("gopher_ok")
      ).orderBy("doc_id")
    },

    "token_count" -> ((sp, dir) =>
      Tables.documents(sp, dir)
        .select(col("doc_id"), TextF.tokenCount(col("text")).as("n_tokens"), length(col("text")).as("n_chars_actual"))
        .orderBy("doc_id")),

    "doc_fingerprint" -> ((sp, dir) =>
      Tables.documents(sp, dir)
        .select(col("doc_id"), TextF.docFingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    "doc_rolling_hash" -> ((sp, dir) =>
      Tables.documents(sp, dir)
        .select(col("doc_id"), TextF.rollingHash(col("text")).as("rhash"))
        .orderBy("doc_id")),

    "token_count_bpe" -> ((sp, dir) =>
      Tables.documents(sp, dir)
        .select(col("doc_id"),
          TextF.bpeTokenCount(col("text")).as("n_bpe_tokens"),
          TextF.tokenCount(col("text")).as("n_ws_tokens"))
        .orderBy("doc_id")),

    "multimodal_meta" -> { (sp, dir) =>
      val blob = col("text").cast("binary")
      Tables.documents(sp, dir).select(
        col("doc_id"),
        length(blob).as("n_bytes"),
        substring(hex(blob), 1, 8).as("magic_hex"),
        (pmod(length(blob), lit(640)) + 16).as("fake_width"),
        (pmod(col("doc_id"), lit(480)) + 16).as("fake_height")
      ).orderBy("doc_id")
    }
  )

  /** CTE chain ending at `shared(id_a, id_b, shared)` plus `sizes` — the
    * df-capped 5-gram overlap pairs; `ngram_jaccard` and the dedup-method
    * Venn both apply the ≥200-permille Jaccard verify on top. */
  /** simhash16's per-token value list and bit-majority fold — ONE spelling
    * shared by dedup_simhash's oracle and the SQL-surface demo (Queries142). */
  private[queries] lazy val Simhash16ValsSql: String = {
    val tokValSql =
      "(strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 4096 + " +
        "(strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1) * 256 + " +
        "(strpos('0123456789abcdef', substr(md5(t), 3, 1)) - 1) * 16 + " +
        "(strpos('0123456789abcdef', substr(md5(t), 4, 1)) - 1)"
    s"list_transform(list_distinct($toksSql), t -> $tokValSql)"
  }

  private[queries] lazy val Simhash16FromValsSql: String = {
    val bits = (0 until 16).map { b =>
      s"CASE WHEN 2 * len(list_filter(vals, v -> (v >> $b) & 1 = 1)) >= len(vals) THEN ${1 << b} ELSE 0 END"
    }.mkString(" + ")
    s"CASE WHEN len(vals) = 0 THEN 0 ELSE $bits END"
  }

  private[queries] lazy val JaccardSharedCteSql: String =
    s"""docs AS (
       |  SELECT doc_id, list_distinct(${shinglesSql("w", 5)}) AS sh
       |  FROM (SELECT doc_id, $toksSql AS w FROM documents) t1
       |), sizes AS (SELECT doc_id, len(sh) AS n FROM docs),
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
       |exf AS (SELECT * FROM ex
       |        WHERE s IN (SELECT s FROM ex GROUP BY s HAVING count(*) <= $StopShingleDf)),
       |shared AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
       |  FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      s"""SELECT md5($normSql) AS fp, min(doc_id) AS keeper, count(*) AS n_dupes
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_minhash" -> {
      def comp(seed: Int) = s"list_min(list_transform(sh, s -> md5(concat('$seed:', s))))"
      s"""SELECT doc_id, c0, c1, c2, c3,
         |  md5(concat(coalesce(c0, ''), coalesce(c1, ''))) AS band0,
         |  md5(concat(coalesce(c2, ''), coalesce(c3, ''))) AS band1
         |FROM (
         |  SELECT doc_id, ${comp(0)} AS c0, ${comp(1)} AS c1, ${comp(2)} AS c2, ${comp(3)} AS c3
         |  FROM (SELECT doc_id, list_distinct(${shinglesSql("w", 3)}) AS sh
         |        FROM (SELECT doc_id, $toksSql AS w FROM documents) t1) t2
         |) t3 ORDER BY doc_id""".stripMargin
    },

    "dedup_simhash" ->
      s"""SELECT doc_id, $Simhash16FromValsSql AS simhash
         |FROM (
         |  SELECT doc_id, $Simhash16ValsSql AS vals
         |  FROM documents
         |) t ORDER BY doc_id""".stripMargin,

    "ngram_jaccard" ->
      s"""WITH $JaccardSharedCteSql
         |SELECT id_a, id_b, shared,
         |  CAST(round(1000.0 * shared / (sa.n + sb.n - shared)) AS BIGINT) AS jac_permille
         |FROM shared
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE CAST(round(1000.0 * shared / (sa.n + sb.n - shared)) AS BIGINT) >= 200
         |ORDER BY id_a, id_b""".stripMargin,

    "sim_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS nid, embedding AS nv FROM embeddings),
         |s AS (
         |  SELECT qid, nid,
         |    ${dotSql("qv", "nv")} / (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("nv", "nv")})) AS cos
         |  FROM q, c WHERE qid <> nid
         |), r AS (
         |  SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |  FROM s WHERE cos IS NOT NULL
         |)
         |SELECT qid, rk, nid, CAST(round(cos * 1e6) AS BIGINT) AS cos_e6
         |FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    "sim_lsh" -> {
      def bitSql(seed: Int, bitPos: Int): String = {
        val proj = s"list_reduce(list_transform(range(1, len(embedding) + 1), i -> " +
          s"CAST(list_extract(embedding, i) AS DOUBLE) * " +
          s"(CAST(strpos('0123456789abcdef', substr(md5(concat('$seed:', i - 1)), 1, 1)) - 1 AS DOUBLE) - 7.5)), (x, y) -> x + y)"
        s"CASE WHEN $proj >= 0 THEN ${1 << bitPos} ELSE 0 END"
      }
      def bandSql(b: Int): String =
        (0 until 16).map(bit => bitSql(b * 64 + bit, bit)).mkString(" + ")
      val bands = (0 until 4).map(b => s"${bandSql(b)} AS band$b").mkString(",\n  ")
      s"SELECT vec_id,\n  $bands\nFROM embeddings ORDER BY vec_id"
    },

    "text_langid" -> {
      val norm = normSql
      val cnt = tokCntSql(norm, toksSql)
      val hits = s"len(list_filter($toksSql, t -> list_contains($stopListSql, t)))"
      val ratio = s"CASE WHEN $cnt = 0 THEN 0.0 ELSE CAST($hits AS DOUBLE) / CAST($cnt AS DOUBLE) END"
      s"""SELECT lang, CASE WHEN $ratio >= 0.08 THEN 'en' ELSE 'und' END AS guess, count(*) AS cnt
         |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "stratified_sample" -> {
      val md = "md5(concat('smp:', CAST(doc_id AS VARCHAR)))"
      val v = s"(strpos('0123456789abcdef', substr($md, 1, 1)) - 1) * 16" +
        s" + (strpos('0123456789abcdef', substr($md, 2, 1)) - 1)"
      s"""SELECT doc_id, lang, CAST(hv AS BIGINT) AS hash_byte
         |FROM (SELECT doc_id, lang, $v AS hv FROM documents) t
         |WHERE hv < CASE WHEN lang = 'en' THEN 128 WHEN lang = 'de' THEN 64 ELSE 26 END
         |ORDER BY doc_id""".stripMargin
    },

    "token_packing" -> {
      val cnt = tokCntSql(normSql, toksSql)
      s"""SELECT doc_id, source, n_tokens, CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin
         |FROM (
         |  SELECT doc_id, source, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM (SELECT doc_id, source, CAST($cnt AS BIGINT) AS n_tokens FROM documents) t0) t1
         |ORDER BY doc_id""".stripMargin
    },

    "text_gopher_quality" -> {
      val lined = raw"regexp_replace(text, '((?:[^ ]+ ){10})', '\1' || chr(10), 'g')"
      val lines = s"[l for l in string_split($lined, chr(10)) if l <> '']"
      val words = "[w for w in string_split(text, ' ') if w <> '']"
      s"""SELECT doc_id,
         |  CAST(len(lines) AS BIGINT) AS n_lines,
         |  CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS n_dup_lines,
         |  CAST(len(words) AS BIGINT) AS word_count,
         |  CAST(CASE WHEN len(words) = 0 THEN 0
         |       ELSE list_reduce(list_transform(words, w -> len(w)), (a, b) -> a + b)
         |       END AS BIGINT) AS word_chars,
         |  (len(words) BETWEEN 50 AND 100000
         |    AND word_chars >= len(words) * 3 AND word_chars <= len(words) * 10
         |    AND (len(lines) - len(list_distinct(lines))) * 10 <= len(lines) * 3) AS gopher_ok
         |FROM (
         |  SELECT doc_id, $lines AS lines, $words AS words,
         |    CAST(CASE WHEN len($words) = 0 THEN 0
         |         ELSE list_reduce(list_transform($words, w -> len(w)), (a, b) -> a + b)
         |         END AS BIGINT) AS word_chars
         |  FROM documents) t
         |ORDER BY doc_id""".stripMargin
    },

    "text_quality" -> {
      val norm = normSql
      val cnt = tokCntSql(norm, toksSql)
      val hits = s"len(list_filter($toksSql, t -> list_contains($stopListSql, t)))"
      val stopRatio = s"CASE WHEN $cnt = 0 THEN 0.0 ELSE CAST($hits AS DOUBLE) / CAST($cnt AS DOUBLE) END"
      val noSpace = "regexp_replace(text, '\\s', '', 'g')"
      val punct = s"length(regexp_replace($noSpace, '[a-zA-Z0-9]', '', 'g'))"
      val punctRatio = s"CASE WHEN length($noSpace) = 0 THEN 0.0 ELSE CAST($punct AS DOUBLE) / CAST(length($noSpace) AS DOUBLE) END"
      val uniqRatio = s"CASE WHEN $cnt = 0 THEN 0.0 ELSE CAST(len(list_distinct($toksSql)) AS DOUBLE) / CAST($cnt AS DOUBLE) END"
      s"""SELECT doc_id, $cnt AS n_tokens,
         |  CAST(round(($stopRatio) * 1000) AS BIGINT) AS stop_permille,
         |  CAST(round(($punctRatio) * 1000) AS BIGINT) AS punct_permille,
         |  CAST(round(($uniqRatio) * 1000) AS BIGINT) AS uniq_permille,
         |  $cnt >= 20 AND ($stopRatio) BETWEEN 0.05 AND 0.6 AS passes
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "token_count" ->
      s"""SELECT doc_id, ${tokCntSql(normSql, toksSql)} AS n_tokens, length(text) AS n_chars_actual
         |FROM documents ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      s"SELECT doc_id, md5($normSql) AS fp FROM documents ORDER BY doc_id",

    // ASCII corpus → code points == UTF-8 bytes; list_reduce seeds with the
    // first element, which equals Spark's (0*B + c0) % M first step
    "doc_rolling_hash" ->
      """SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN 0
        |       ELSE list_reduce(
        |         list_transform(range(1, length(text) + 1), i -> CAST(unicode(substr(text, i, 1)) AS BIGINT)),
        |         (h, c) -> (h * 257 + c) % 1000000007)
        |  END AS rhash
        |FROM documents ORDER BY doc_id""".stripMargin,

    "token_count_bpe" -> {
      // std SQL strings keep backslashes literal; only the quote needs escaping
      val pat = TextF.BpeTokenPattern.replace("'", "''")
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '$pat')) AS n_bpe_tokens,
         |  ${tokCntSql(normSql, toksSql)} AS n_ws_tokens
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "multimodal_meta" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  substr(hex(encode(text)), 1, 8) AS magic_hex,
        |  octet_length(encode(text)) % 640 + 16 AS fake_width,
        |  doc_id % 480 + 16 AS fake_height
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
