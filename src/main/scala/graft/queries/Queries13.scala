package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** SURVEY §2.D additions (round 5 continuation): three more operators a
  * training-data pipeline runs corpus-wide.
  *
  *  - `text_normalize`: Unicode NFC canonicalization via the native
  *    codegen'd [[graft.plans.NormalizeExpression]] — decomposed and
  *    precomposed spellings must share a dedup bucket before any hashing.
  *    The corpus is ASCII, so decomposed/ligature suffixes are planted
  *    deterministically (`NormLits` is the single source of truth for both
  *    engines; the oracle twin is DuckDB's `nfc_normalize`).
  *  - `text_logprob`: unigram language-model scoring (the CCNet-style
  *    perplexity-proxy quality gate, Wenzek et al. 2020 §4.3). The trained
  *    LM arrives as a (word → milli-nat logprob) table — here a literal map
  *    compiled into BOTH engines; training it is a separate counting job.
  *    Scores stay in exact integer milli-nats: total and per-token average
  *    via integral `div`, no floating point anywhere.
  *  - `corpus_mix`: deterministic mixture sampling toward target source
  *    weights (the Pile/DoReMi-style "mix web/books/code at fixed
  *    proportions" step). The binding source (smallest count/weight ratio)
  *    is kept whole and every other source downsamples by a hash threshold,
  *    so the output approaches the target mixture at maximum size. All
  *    thresholds are exact integer rationals; membership is md5-based and
  *    reproducible at any scale (the stratified_sample pattern, 16-bit).
  */
object Queries13 extends QuerySet {
  /** Planted non-ASCII suffixes: decomposed accents (compose under NFC),
    * a precomposed control, a ligature (NFC-invariant), plain ASCII. */
  private[graft] val NormLits: Seq[String] = Seq(
    "café", // e + combining acute -> é
    "naïve", // i + combining diaeresis -> ï
    "élève", // both combining directions
    "Ångström", // A + combining ring -> Å
    "Zürich",
    "éclair", // already precomposed: NFC fixpoint
    "ﬃ ligature", // U+FB03 ffi: unchanged by NFC (NFKC would fold it)
    "plain ascii")

  /** The unigram LM: word -> milli-nat log-probability (negative). A real
    * pipeline trains this on a reference corpus (one count + log job); the
    * scoring operator only ever sees the table. */
  private[graft] val UnigramLm: Seq[(String, Long)] = Seq(
    "the" -> -2100L, "a" -> -2200L, "value" -> -2500L, "table" -> -2600L,
    "query" -> -2700L, "row" -> -2900L, "key" -> -3000L, "scan" -> -3200L,
    "part" -> -3300L, "fast" -> -3400L, "line" -> -3500L, "sort" -> -3600L,
    "batch" -> -3800L, "join" -> -3900L, "window" -> -4100L, "spark" -> -4300L)
  private[graft] val OovMilli: Long = -9000L

  /** First 16 bits of md5("mix:" + doc_id) — the deterministic membership
    * coin, identical in both engines (hex-digit arithmetic, no engine hash). */
  private def hv16(idCol: String): Column = {
    val md = s"md5(concat('mix:', CAST($idCol AS STRING)))"
    def nib(i: Int) = s"(instr('0123456789abcdef', substr($md, $i, 1)) - 1)"
    expr(s"((${nib(1)} * 16 + ${nib(2)}) * 256 + (${nib(3)} * 16 + ${nib(4)}))")
      .cast("bigint")
  }

  val defs: Map[String, Q] = Map(
    "text_normalize" -> { (sp, dir) =>
      val deco = element_at(
        array(NormLits.map(lit): _*),
        (col("doc_id") % NormLits.length).cast("int") + 1)
      Tables.documents(sp, dir)
        .withColumn("raw", concat(substring(col("text"), 1, 24), lit(" "), deco))
        .withColumn("nfc", TextF.unicodeNormalize(col("raw")))
        .select(col("doc_id"), col("raw"), col("nfc"),
          length(col("raw")).cast("bigint").as("n_raw"),
          length(col("nfc")).cast("bigint").as("n_nfc"),
          (col("raw") =!= col("nfc")).as("changed"))
        .orderBy("doc_id")
    },

    "text_logprob" -> { (sp, dir) =>
      val lm = map(UnigramLm.flatMap { case (w, lp) => Seq(lit(w), lit(lp)) }: _*)
      Tables.documents(sp, dir)
        .select(col("doc_id"), explode(TextF.tokens(col("text"))).as("tok"))
        .withColumn("lp", coalesce(element_at(lm, col("tok")), lit(OovMilli)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"), sum(col("lp")).as("lp_total_milli"))
        .withColumn("lp_avg_milli", expr("lp_total_milli div n_toks"))
        .withColumn("keep", col("lp_avg_milli") > lit(-6000L))
        .orderBy("doc_id")
    },

    "corpus_mix" -> { (sp, dir) =>
      val docs = Tables.documents(sp, dir)
      // per-source counts + target weights (weights need no normalization:
      // only ratios matter once the binding source anchors the scale).
      // Weight formula depends on Synth's 'srcN' source naming — the DuckDB
      // twin uses TRY_CAST to match Spark's NULL-on-malformed CAST.
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("c"))
        .withColumn("t", lit(200L) + lit(300L) * (expr("CAST(substring(source, 4) AS BIGINT)") % 4))
      // binding source: exact rational argmin of c/t (anti-join beats any
      // strictly-smaller ratio; string tie-break), then broadcast the scalar
      val other = counts.select(col("source").as("o_src"), col("c").as("o_c"), col("t").as("o_t"))
      val argmin = broadcast(counts.join(other,
          (col("o_c") * col("t") < col("c") * col("o_t")) ||
            (col("o_c") * col("t") === col("c") * col("o_t") && col("o_src") < col("source")),
          "left_anti")
        .select(col("c").as("c_star"), col("t").as("t_star")))
      val thresholds = broadcast(counts.crossJoin(argmin)
        .withColumn("th", least(lit(65536L), expr("65536 * c_star * t div (t_star * c)"))))
      val kept = docs
        .join(thresholds.select(col("source"), col("th")), Seq("source"))
        .filter(hv16("doc_id") < col("th"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      val joined = thresholds.select(col("source"), col("c").as("n_docs"), col("t").as("target_w"), col("th"))
        .join(kept, Seq("source"), "left")
        .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
      val total = broadcast(joined.agg(sum(col("n_kept")).as("total_kept")))
      joined.crossJoin(total)
        .select(col("source"), col("n_docs"), col("target_w"), col("th"), col("n_kept"),
          expr("n_kept * 10000 div total_kept").as("achieved_bp"))
        .orderBy("source")
    }
  )

  // ---- DuckDB twins ----

  private def sqlQuote(s: String): String = "'" + s + "'" // literals carry no quotes/backslashes

  val oracles: Map[String, String] = Map(
    "text_normalize" -> {
      val lits = NormLits.map(sqlQuote).mkString("[", ", ", "]")
      s"""SELECT doc_id, raw, nfc_normalize(raw) AS nfc,
         |  CAST(length(raw) AS BIGINT) AS n_raw,
         |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_nfc,
         |  raw <> nfc_normalize(raw) AS changed
         |FROM (
         |  SELECT doc_id,
         |    concat(substring(text, 1, 24), ' ',
         |      list_extract($lits, CAST(doc_id % ${NormLits.length} AS INT) + 1)) AS raw
         |  FROM documents) t
         |ORDER BY doc_id""".stripMargin
    },

    "text_logprob" -> {
      val cases = UnigramLm.map { case (w, lp) => s"WHEN tok = '$w' THEN $lp" }.mkString(" ")
      s"""SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
         |  CAST(sum(lp) AS BIGINT) AS lp_total_milli,
         |  CAST(sum(lp) AS BIGINT) // count(*) AS lp_avg_milli,
         |  (CAST(sum(lp) AS BIGINT) // count(*)) > -6000 AS keep
         |FROM (
         |  SELECT doc_id,
         |    CASE $cases ELSE $OovMilli END AS lp
         |  FROM (
         |    SELECT doc_id,
         |      unnest(${TextF.TokensSql}) AS tok
         |    FROM documents) toks) scored
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    },

    "corpus_mix" -> {
      val md = "md5(concat('mix:', CAST(doc_id AS VARCHAR)))"
      def nib(i: Int) = s"(strpos('0123456789abcdef', substr($md, $i, 1)) - 1)"
      // TRY_CAST: Spark's non-ANSI CAST yields NULL on a malformed source
      // name; TRY_CAST is DuckDB's semantic twin (plain CAST would raise),
      // so a schema drift away from 'srcN' fails identically on both engines
      s"""WITH counts AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS c,
         |    200 + 300 * (TRY_CAST(substring(source, 4) AS BIGINT) % 4) AS t
         |  FROM documents GROUP BY source
         |), star AS (
         |  SELECT c AS c_star, t AS t_star FROM counts m
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM counts o
         |    WHERE o.c * m.t < m.c * o.t
         |       OR (o.c * m.t = m.c * o.t AND o.source < m.source))
         |), th AS (
         |  SELECT source, c, t,
         |    least(65536, 65536 * c_star * t // (t_star * c)) AS th
         |  FROM counts, star
         |), kept AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_kept
         |  FROM documents JOIN th USING (source)
         |  WHERE ((${nib(1)} * 16 + ${nib(2)}) * 256 + (${nib(3)} * 16 + ${nib(4)})) < th
         |  GROUP BY source
         |), joined AS (
         |  SELECT th.source, c AS n_docs, t AS target_w, th,
         |    coalesce(n_kept, 0) AS n_kept
         |  FROM th LEFT JOIN kept ON th.source = kept.source
         |)
         |SELECT source, n_docs, target_w, th, n_kept,
         |  CAST(n_kept * 10000 // (SELECT CAST(sum(n_kept) AS BIGINT) FROM joined) AS BIGINT) AS achieved_bp
         |FROM joined
         |ORDER BY source""".stripMargin
    }
  )
}
