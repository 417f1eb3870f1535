package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{SimF, TextF}

/** Round-7 training-data operators:
  *
  *  - `dedup_bloom`: membership against the SHIPPED corpus via a
  *    deterministic Bloom filter — the sublinear-memory alternative to
  *    `incremental_dedup`'s anti-join when the shipped side is 100 TB: the
  *    filter is O(m) bits regardless of corpus size, builds in one
  *    aggregation over shipped fingerprints, and the batch probe is a
  *    NARROW projection against the (broadcastable) bit array. Hash
  *    positions are md5-derived on BOTH engines, so the filter — including
  *    its false positives — is bit-identical and the oracle stays exact.
  *  - `bloom_fpr_audit` (r8): the filter's own certificate — measured
  *    false-positive rate over exactly-non-member probes (ground truth by
  *    anti-join) next to the fill-based theoretical rate, all exact
  *    integer milli; build/probe spellings shared with `dedup_bloom`
  *    (width-parameterized; the audited width is deliberately small so
  *    the error branch measurably fires).
  *  - `text_script`: Unicode-script detection (Latin / Cyrillic / Han /
  *    Arabic / Greek codepoint ranges) — the multilingual-corpus routing
  *    step language-ID needs upstream; planted non-Latin suffixes prove
  *    every branch fires on the ASCII synth corpus.
  *  - `decontaminate_embedding`: eval-set contamination by embedding
  *    cosine (the semantic twin of `decontaminate`'s n-gram check): the
  *    benchmark slice is BROADCAST (eval suites are fixed-size), the
  *    corpus side stays one narrow scan + partial-agg max — no shuffle
  *    proportional to corpus × benchmark.
  *  - `perplexity_bucket`: CCNet-style (Wenzek et al. 2020) head/middle/
  *    tail terciles by unigram-LM score per source. Deliberately NOT
  *    `ntile` over a doc-level window (that is one reducer per source at
  *    100 TB): tercile thresholds are exact via a VALUE-HISTOGRAM
  *    cumulative window — the window runs over distinct integer-milli
  *    scores per source (bounded domain), and docs get buckets back
  *    through a broadcast join on (source, score). Ties share a bucket.
  */
object Queries16 extends QuerySet {
  // ---- dedup_bloom constants (shared verbatim with the SQL twin) --------
  private[graft] val BloomBits = 16384 // m
  private[graft] val BloomWords = BloomBits / 32 // 32-bit words stored in BIGINTs
  private[graft] val BloomSalts = Seq("b0:", "b1:", "b2:") // k = 3
  private val AuditBits = 1024 // bloom_fpr_audit width: small enough to measurably false-positive
  private[queries] val BloomBoiler =
    "shared boilerplate page please subscribe to our newsletter"

  /** First 16 bits of md5(salt ++ fp) mod m — one Bloom position.
    * `conv(hex, 16, 10)` is the nibble-CASE cascade the DuckDB twin spells
    * out, folded to one call — same value, an 8x smaller plan. */
  private[graft] def bloomPos(salt: String, fp: Column, m: Int = BloomBits): Column =
    conv(substring(md5(concat(lit(salt), fp).cast("binary")), 1, 4), 16, 10)
      .cast("int") % m

  /** The single set bit of a Bloom position inside its 32-bit word: an
    * integer shift (exponents stay ≤ 31, but the shift never round-trips
    * through double at all). */
  private[graft] def bloomBit(pos: Column): Column =
    call_function("shiftleft", lit(1L), (pos % 32).cast("int"))

  private[queries] def nibSql(x: String): String =
    s"(CASE WHEN ascii($x) <= 57 THEN ascii($x) - 48 ELSE ascii($x) - 87 END)"

  private[queries] def bloomPosSql(salt: String, fp: String, m: Int = BloomBits): String = {
    val h = s"md5(concat('$salt', $fp))"
    s"((${nibSql(s"substr($h, 1, 1)")} * 4096 + ${nibSql(s"substr($h, 2, 1)")} * 256 + " +
      s"${nibSql(s"substr($h, 3, 1)")} * 16 + ${nibSql(s"substr($h, 4, 1)")}) % $m)"
  }

  /** Shipped docs / batch docs split + planted cross-side duplicates: the
    * boilerplate text appears on shipped (doc_id%11==5 among non-batch)
    * AND batch (doc_id%7==2) rows, so batch probes provably hit. */
  private[graft] def bloomDocs(sp: SparkSession, dir: String): DataFrame =
    Tables.documents(sp, dir).select(col("doc_id"),
      when(col("doc_id") % 11 === 5 || (col("doc_id") % 3 === 1 && col("doc_id") % 7 === 2),
        lit(BloomBoiler))
        .otherwise(col("text")).as("text"))
      .withColumn("fp", TextF.docFingerprint(col("text")))

  // ---- text_script constants --------------------------------------------
  // planted suffixes: the ASCII synth corpus otherwise never exercises the
  // non-Latin branches (same pattern as text_normalize's planted ligatures)
  private[queries] val ScriptSuffixes: Seq[(Int, String)] = Seq(
    1 -> " привет мир земля", // Cyrillic
    2 -> " 你好世界欢迎光临", // Han
    3 -> " مرحبا بالعالم اهلا", // Arabic
    4 -> " γειά σου κόσμε καλημέρα") // Greek

  /** (name, lo, hi) codepoint ranges checked per char; Latin = A-Z a-z. */
  private[queries] val ScriptRanges: Seq[(String, Int, Int)] = Seq(
    ("n_cyrillic", 0x0400, 0x04FF),
    ("n_han", 0x4E00, 0x9FFF),
    ("n_arabic", 0x0600, 0x06FF),
    ("n_greek", 0x0370, 0x03FF))

  val defs: Map[String, Q] = Map(
    "dedup_bloom" -> { (sp, dir) =>
      val docs = bloomDocs(sp, dir)
      val shipped = docs.filter(col("doc_id") % 3 =!= 1)
      val batch = docs.filter(col("doc_id") % 3 === 1)
      // build: one hash-agg over (distinct shipped fp × k positions) →
      // ≤ m/32 words; tiny by construction, collected like the centroid
      // literals (at 100 TB the array broadcasts instead — the probe shape
      // below is unchanged)
      val wordRows = shipped.select(col("fp")).distinct()
        .select(explode(array(BloomSalts.map(s => bloomPos(s, col("fp"))): _*)).as("pos"))
        .select((col("pos") / 32).cast("int").as("w"),
          bloomBit(col("pos")).as("bitv"))
        .groupBy("w").agg(expr("bit_or(bitv)").as("bits"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val bloom = (0 until BloomWords).map(i => wordRows.getOrElse(i, 0L))
      // probe: NARROW — three word lookups + bit tests per row, no join;
      // forall over the position array binds the filter literal ONCE
      val posArr = array(BloomSalts.map(s => bloomPos(s, col("fp"))): _*)
      val hit = forall(posArr, { pos =>
        val word = element_at(typedLit(bloom), (pos / 32).cast("int") + 1)
        val bitv = bloomBit(pos)
        ((word / bitv).cast("bigint") % 2) === 1
      })
      batch
        .select(col("doc_id"), hit.as("in_bloom"))
        .orderBy("doc_id")
    },

    "bloom_fpr_audit" -> { (sp, dir) =>
      // the certificate for the Bloom gate (the quantile_sketch pattern:
      // a sketch ships its own error measurement): probe a filter with the
      // batch fps that are EXACTLY not members (ground truth by anti-join)
      // and report the measured false-positive rate next to the fill-based
      // theoretical one ((bits_set/m)^k, exact integral milli). Build and
      // probe are the dedup_bloom spellings parameterized by width — the
      // audited width is deliberately SMALL (1/16 of production) so the
      // false-positive branch measurably fires: an audit of an all-zero
      // error column certifies nothing. n/m sizing is exactly what this
      // report exists to tune.
      val am = AuditBits
      val aw = am / 32
      val docs = bloomDocs(sp, dir)
      val shipped = graft.util.CacheScope.track(
        docs.filter(col("doc_id") % 3 =!= 1).select("fp").distinct())
      val wordRows = shipped
        .select(explode(array(BloomSalts.map(s => bloomPos(s, col("fp"), am)): _*)).as("pos"))
        .select((col("pos") / 32).cast("int").as("w"),
          bloomBit(col("pos")).as("bitv"))
        .groupBy("w").agg(expr("bit_or(bitv)").as("bits"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val bloom = (0 until aw).map(i => wordRows.getOrElse(i, 0L))
      val bitsSet = bloom.map(w => java.lang.Long.bitCount(w).toLong).sum
      val m = am.toLong
      val fillFprMilli = bitsSet * bitsSet * bitsSet * 1000L / (m * m * m)
      val posArr = array(BloomSalts.map(s => bloomPos(s, col("fp"), am)): _*)
      val hit = forall(posArr, { pos =>
        val word = element_at(typedLit(bloom), (pos / 32).cast("int") + 1)
        val bitv = bloomBit(pos)
        ((word / bitv).cast("bigint") % 2) === 1
      })
      docs.filter(col("doc_id") % 3 === 1).select("fp").distinct()
        .join(shipped, Seq("fp"), "left_anti")
        .select(hit.as("hit"))
        .agg(count(lit(1)).as("n_probes"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("false_positives"))
        .crossJoin(broadcast(shipped.agg(count(lit(1)).as("n_members"))))
        .select(lit(m).as("m_bits"), lit(BloomSalts.size.toLong).as("k_hashes"),
          col("n_members"), lit(bitsSet).as("bits_set"),
          col("n_probes"), col("false_positives"),
          expr("false_positives * 1000 div n_probes").as("fpr_milli"),
          lit(fillFprMilli).as("fill_fpr_milli"))
    },

    "text_script" -> { (sp, dir) =>
      // even planted ids are FULLY script-dominated (repeat(suffix, 6)), so
      // every dominant-script branch provably fires; odd planted ids keep
      // the Latin base + suffix (mixed-script counting still checked)
      val planted = ScriptSuffixes.foldLeft(when(lit(false), lit(""))) {
        case (acc, (k, suffix)) =>
          acc.when(col("doc_id") % 7 === k && col("doc_id") % 2 === 0, repeat(lit(suffix), 6))
            .when(col("doc_id") % 7 === k, concat(col("text"), lit(suffix)))
      }.otherwise(col("text"))
      val chars = split(planted, "")
      def rangeCount(lo: Int, hi: Int): Column =
        size(filter(chars, c => ascii(c) >= lo && ascii(c) <= hi)).cast("bigint")
      val nLatin = (size(filter(chars, c => (ascii(c) >= 65 && ascii(c) <= 90) ||
        (ascii(c) >= 97 && ascii(c) <= 122)))).cast("bigint")
      val counts = ScriptRanges.map { case (n, lo, hi) => n -> rangeCount(lo, hi) }
      val Seq(cyr, han, ara, gre) = counts.map(_._2)
      // fixed-precedence argmax (Latin wins ties, then list order) — the
      // same CASE cascade on both engines, no struct-compare portability bet
      val script =
        when(nLatin >= cyr && nLatin >= han && nLatin >= ara && nLatin >= gre, lit("Latin"))
          .when(cyr >= han && cyr >= ara && cyr >= gre, lit("Cyrillic"))
          .when(han >= ara && han >= gre, lit("Han"))
          .when(ara >= gre, lit("Arabic"))
          .otherwise(lit("Greek"))
      Tables.documents(sp, dir)
        .select(col("doc_id"),
          nLatin.as("n_latin"),
          counts(0)._2.as(counts(0)._1), counts(1)._2.as(counts(1)._1),
          counts(2)._2.as(counts(2)._1), counts(3)._2.as(counts(3)._1),
          script.as("script"))
        .orderBy("doc_id")
    },

    "perplexity_bucket" -> { (sp, dir) =>
      import org.apache.spark.sql.expressions.Window
      val lm = map(Queries13.UnigramLm.flatMap { case (w, lp) => Seq(lit(w), lit(lp)) }: _*)
      // both the histogram and the final join scan `scored` — cache it so
      // the token explode + per-doc aggregate runs once (Queries6 pattern)
      val scored = graft.util.CacheScope.track(Tables.documents(sp, dir)
        .select(col("doc_id"), col("source"), explode(TextF.tokens(col("text"))).as("tok"))
        .withColumn("lp", coalesce(element_at(lm, col("tok")), lit(Queries13.OovMilli)))
        .groupBy(col("doc_id"), col("source"))
        .agg(expr("CAST(sum(lp) AS BIGINT) div count(*)").as("lp_avg_milli")))
      // histogram over distinct (source, score): the only windowed relation
      val hist = scored.groupBy(col("source"), col("lp_avg_milli"))
        .agg(count(lit(1)).as("cnt"))
      val desc = Window.partitionBy("source").orderBy(col("lp_avg_milli").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val buckets = hist
        .withColumn("cum", sum(col("cnt")).over(desc))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy("source")))
        .withColumn("bucket",
          when(col("cum") <= expr("(n + 2) div 3"), lit("head"))
            .when(col("cum") <= expr("(2 * n + 2) div 3"), lit("middle"))
            .otherwise(lit("tail")))
        .select(col("source"), col("lp_avg_milli"), col("bucket"))
      scored.join(broadcast(buckets), Seq("source", "lp_avg_milli"))
        .select(col("doc_id"), col("source"), col("lp_avg_milli"), col("bucket"),
          (col("bucket") =!= "tail").as("keep"))
        .orderBy("doc_id")
    },

    "decontaminate_embedding" -> { (sp, dir) =>
      // benchmark slice: every 50th base vector (fixed-size eval suite);
      // corpus: the augmented embeddings — planted near-dups of %100==0
      // bases (cos ≈ 0.996) and the bases themselves (cos = 1) must flag
      val bench = Tables.embeddings(sp, dir)
        .filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("bench_id"),
          transform(col("embedding"), x => x.cast("double")).as("bv"))
        .withColumn("bnrm", SimF.norm(col("bv")))
      val corpus = Queries3.augmentedEmbeddings(sp, dir)
        .withColumn("nrm", SimF.norm(col("v")))
      corpus.crossJoin(broadcast(bench))
        .withColumn("cos", SimF.dot(col("v"), col("bv")) / (col("nrm") * col("bnrm")))
        .groupBy(col("vec_id"))
        .agg(max(col("cos")).as("max_cos"))
        .select(col("vec_id"),
          (round(col("max_cos") * 1e6)).cast("bigint").as("max_bench_cos_e6"),
          (col("max_cos") >= 0.95).as("contaminated"))
        .orderBy("vec_id")
    }
  )

  // ---- DuckDB twins ------------------------------------------------------

  private val normSql = TextF.NormalizeTextSql

  val oracles: Map[String, String] = Map(
    "dedup_bloom" -> {
      val fpSql = s"md5($normSql)"
      val posList = BloomSalts.map(s => bloomPosSql(s, "fp")).mkString("[", ", ", "]")
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 11 = 5 OR (doc_id % 3 = 1 AND doc_id % 7 = 2)
         |         THEN '$BloomBoiler' ELSE text END AS text
         |  FROM documents
         |), fps AS (
         |  SELECT doc_id, $fpSql AS fp FROM d
         |), shipped AS (
         |  SELECT DISTINCT fp FROM fps WHERE doc_id % 3 <> 1
         |), pos AS (
         |  SELECT unnest($posList) AS pos FROM shipped
         |), bloom AS (
         |  SELECT pos // 32 AS w, bit_or(CAST(pow(2, pos % 32) AS BIGINT)) AS bits
         |  FROM pos GROUP BY 1
         |), bpos AS (
         |  SELECT doc_id, unnest($posList) AS pos FROM fps WHERE doc_id % 3 = 1
         |), probes AS (
         |  SELECT doc_id,
         |    coalesce((b.bits // CAST(pow(2, pos % 32) AS BIGINT)) % 2, 0) = 1 AS hit
         |  FROM bpos LEFT JOIN bloom b ON b.w = pos // 32
         |)
         |SELECT doc_id, bool_and(hit) AS in_bloom
         |FROM probes GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "bloom_fpr_audit" -> {
      val fpSql = s"md5($normSql)"
      val posList = BloomSalts.map(s => bloomPosSql(s, "fp", AuditBits)).mkString("[", ", ", "]")
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 11 = 5 OR (doc_id % 3 = 1 AND doc_id % 7 = 2)
         |         THEN '$BloomBoiler' ELSE text END AS text
         |  FROM documents
         |), fps AS (
         |  SELECT doc_id, $fpSql AS fp FROM d
         |), shipped AS (
         |  SELECT DISTINCT fp FROM fps WHERE doc_id % 3 <> 1
         |), pos AS (
         |  SELECT unnest($posList) AS pos FROM shipped
         |), bloom AS (
         |  SELECT pos // 32 AS w, bit_or(CAST(pow(2, pos % 32) AS BIGINT)) AS bits
         |  FROM pos GROUP BY 1
         |), bs AS (
         |  SELECT CAST(sum(bit_count(bits)) AS BIGINT) AS bits_set FROM bloom
         |), nonmem AS (
         |  SELECT DISTINCT fp FROM fps WHERE doc_id % 3 = 1
         |    AND fp NOT IN (SELECT fp FROM shipped)
         |), bpos AS (
         |  SELECT fp, unnest($posList) AS pos FROM nonmem
         |), probes AS (
         |  SELECT fp,
         |    coalesce((b.bits // CAST(pow(2, pos % 32) AS BIGINT)) % 2, 0) = 1 AS hit
         |  FROM bpos LEFT JOIN bloom b ON b.w = pos // 32
         |), perfp AS (
         |  SELECT fp, bool_and(hit) AS all_hit FROM probes GROUP BY fp
         |)
         |SELECT CAST($AuditBits AS BIGINT) AS m_bits,
         |  CAST(${BloomSalts.size} AS BIGINT) AS k_hashes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM shipped) AS n_members,
         |  (SELECT bits_set FROM bs) AS bits_set,
         |  CAST(count(*) AS BIGINT) AS n_probes,
         |  CAST(sum(CASE WHEN all_hit THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
         |  CAST(sum(CASE WHEN all_hit THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
         |    AS fpr_milli,
         |  (SELECT CAST(bits_set * bits_set * bits_set * 1000
         |     // (CAST($AuditBits AS BIGINT) * $AuditBits * $AuditBits) AS BIGINT)
         |   FROM bs) AS fill_fpr_milli
         |FROM perfp""".stripMargin
    },

    "text_script" -> {
      val suffixCase = "CASE " + ScriptSuffixes.map { case (k, s) =>
        val q = s.replace("'", "''")
        s"WHEN doc_id % 7 = $k AND doc_id % 2 = 0 THEN repeat('$q', 6) " +
          s"WHEN doc_id % 7 = $k THEN concat(text, '$q')"
      }.mkString(" ") + " ELSE text END"
      def cnt(cond: String): String =
        s"CAST(len(list_filter(chars, c -> $cond)) AS BIGINT)"
      val lat = cnt("(ascii(c) >= 65 AND ascii(c) <= 90) OR (ascii(c) >= 97 AND ascii(c) <= 122)")
      val ranges = ScriptRanges.map { case (n, lo, hi) =>
        n -> cnt(s"ascii(c) >= $lo AND ascii(c) <= $hi")
      }
      s"""WITH planted AS (
         |  SELECT doc_id, string_split($suffixCase, '') AS chars FROM documents
         |), counted AS (
         |  SELECT doc_id,
         |    $lat AS n_latin,
         |    ${ranges.map { case (n, e) => s"$e AS $n" }.mkString(",\n    ")}
         |  FROM planted
         |)
         |SELECT doc_id, n_latin, n_cyrillic, n_han, n_arabic, n_greek,
         |  CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_han AND n_latin >= n_arabic AND n_latin >= n_greek THEN 'Latin'
         |       WHEN n_cyrillic >= n_han AND n_cyrillic >= n_arabic AND n_cyrillic >= n_greek THEN 'Cyrillic'
         |       WHEN n_han >= n_arabic AND n_han >= n_greek THEN 'Han'
         |       WHEN n_arabic >= n_greek THEN 'Arabic'
         |       ELSE 'Greek' END AS script
         |FROM counted ORDER BY doc_id""".stripMargin
    },

    "perplexity_bucket" -> {
      val cases = Queries13.UnigramLm.map { case (w, lp) => s"WHEN tok = '$w' THEN $lp" }.mkString(" ")
      s"""WITH scored AS (
         |  SELECT doc_id, source, CAST(sum(lp) AS BIGINT) // count(*) AS lp_avg_milli
         |  FROM (
         |    SELECT doc_id, source, CASE $cases ELSE ${Queries13.OovMilli} END AS lp
         |    FROM (
         |      SELECT doc_id, source, unnest(${TextF.TokensSql}) AS tok
         |      FROM documents) toks) lps
         |  GROUP BY doc_id, source
         |), hist AS (
         |  SELECT source, lp_avg_milli, CAST(count(*) AS BIGINT) AS cnt
         |  FROM scored GROUP BY 1, 2
         |), cum AS (
         |  SELECT source, lp_avg_milli,
         |    sum(cnt) OVER (PARTITION BY source ORDER BY lp_avg_milli DESC
         |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
         |    sum(cnt) OVER (PARTITION BY source) AS n
         |  FROM hist
         |), buckets AS (
         |  SELECT source, lp_avg_milli,
         |    CASE WHEN c <= (n + 2) // 3 THEN 'head'
         |         WHEN c <= (2 * n + 2) // 3 THEN 'middle'
         |         ELSE 'tail' END AS bucket
         |  FROM cum
         |)
         |SELECT s.doc_id, s.source, s.lp_avg_milli, b.bucket, b.bucket <> 'tail' AS keep
         |FROM scored s JOIN buckets b USING (source, lp_avg_milli)
         |ORDER BY s.doc_id""".stripMargin
    },

    "decontaminate_embedding" ->
      s"""WITH ${Queries3.AugSqlCte}, bench AS (
         |  SELECT vec_id AS bench_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS bv
         |  FROM embeddings WHERE vec_id % 50 = 0
         |), scored AS (
         |  SELECT a.vec_id,
         |    max(${Queries3.dotSqlShared("a.v", "b.bv")} /
         |        (sqrt(${Queries3.dotSqlShared("a.v", "a.v")}) * sqrt(${Queries3.dotSqlShared("b.bv", "b.bv")}))) AS max_cos
         |  FROM aug a CROSS JOIN bench b
         |  GROUP BY a.vec_id
         |)
         |SELECT vec_id,
         |  CAST(round(max_cos * 1e6) AS BIGINT) AS max_bench_cos_e6,
         |  max_cos >= 0.95 AS contaminated
         |FROM scored ORDER BY vec_id""".stripMargin
  )
}
