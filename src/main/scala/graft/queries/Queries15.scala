package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** SURVEY §2.D additions (round 6): the data-selection half of an LLM
  * training-data pipeline — span-level dedup and hashed-model scoring.
  *
  *  - `substring_dedup`: exact-substring duplication at the span level
  *    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
  *    Better"): every W-token window is hashed; a window occurring anywhere
  *    else in the corpus (later by (doc_id, pos)) is a duplicated span.
  *    Suffix arrays don't distribute; windowed hashing is the standard
  *    scale-out approximation, and W-token granularity bounds memory at
  *    O(tokens) with a 16-byte shuffle key per window — the shuffle never
  *    carries text, only (hash, doc_id, pos).
  *  - `quality_classifier`: a fastText-shaped linear classifier over hashed
  *    bag-of-words features (the C4/CCNet quality-filter stage). Weights
  *    live in a literal array; scoring is ONE codegen'd `aggregate` over the
  *    token array — a narrow projection with NO explode, NO shuffle, NO
  *    join: the exact shape you want applied to every document of 100 TB.
  *  - `dsir_score`: Data Selection via Importance Resampling (Xie et al.
  *    2023): log importance weight = log p_target(x) − log p_raw(x) under
  *    two hashed-bigram unigram-LM tables. Same narrow aggregate shape;
  *    the two LM tables fold into one literal difference array at plan
  *    build (log-space subtraction commutes with the sum).
  *
  * All scores are exact integer milli-nats / milli-units so the DuckDB
  * twins (list_transform + list_sum over the same md5-bucket formula)
  * match bit-for-bit; no FP anywhere.
  *
  * Reference analogue: snowplow/enrich has no data-selection stage; these
  * extend the engine for the training-data workload (SURVEY §2.D).
  */
object Queries15 extends QuerySet {
  // ---- substring_dedup constants ----------------------------------------

  /** Window width in tokens. Lee et al. use 50; the synthetic docs are
    * 30-80 tokens, so 10 keeps multiple windows per doc at test scale.
    * The operator is width-generic. */
  private val W = 10

  /** Planted boilerplate (14 tokens ≥ W): appended to every doc_id%6==1
    * doc, so its 5 interior windows are corpus-wide duplicates — random
    * synthetic text never repeats a 10-token window by chance. Windows
    * spanning the splice boundary mix doc-specific tokens and stay unique,
    * exactly like real boilerplate injection. */
  private[graft] val SubBoiler =
    "subscribe now and never miss a single update from our award winning editorial team"

  // ---- hashed-model constants -------------------------------------------

  private val B = 64 // feature buckets

  /** Deterministic literal weight tables (milli-units). Stand-ins for
    * trained parameters: the operator contract is the lookup+sum shape,
    * not the values. */
  private[graft] val QcWeights: Seq[Long] =
    (0 until B).map(i => ((i * 2654435761L + 104729L) % 401L) - 200L)
  private val QcBias = 50L

  /** Hashed-bigram log-prob tables (milli-nats): target LM and raw LM. */
  private[graft] val DsirTarget: Seq[Long] =
    (0 until B).map(i => -((i * 48271L + 7L) % 5000L) - 500L)
  private[graft] val DsirRaw: Seq[Long] =
    (0 until B).map(i => -((i * 69621L + 11L) % 5000L) - 500L)

  /** log p_T − log p_R folded to one table (sum of diffs == diff of sums). */
  private val DsirDiff: Seq[Long] =
    DsirTarget.zip(DsirRaw).map { case (t, r) => t - r }

  // ---- shared bucket formula (Spark Column + DuckDB SQL twins) ----------

  /** Hex-nibble value via ascii() — usable inside HOF lambdas (instr/locate
    * need a literal needle, ascii doesn't). '0'-'9' → 0-9, 'a'-'f' → 10-15. */
  private[queries] def nibVal(c: Column): Column =
    when(ascii(c) <= 57, ascii(c) - 48).otherwise(ascii(c) - 87)

  /** md5 bucket of a token: first byte of md5(salt ++ token) mod B. */
  private def bucketOf(salt: String, t: Column): Column = {
    val h = md5(concat(lit(salt), t).cast("binary"))
    (nibVal(substring(h, 1, 1)) * 16 + nibVal(substring(h, 2, 1))) % B
  }

  private[queries] def nibSql(x: String): String =
    s"(CASE WHEN ascii($x) <= 57 THEN ascii($x) - 48 ELSE ascii($x) - 87 END)"

  private def bucketSql(salt: String, t: String): String = {
    val h = s"md5(concat('$salt', $t))"
    s"((${nibSql(s"substr($h, 1, 1)")} * 16 + ${nibSql(s"substr($h, 2, 1)")}) % $B)"
  }

  private def listLit(xs: Seq[Long]): String = xs.mkString("[", ", ", "]")

  /** Literal-array lookup + sum over a token list — since r16 ONE fused
    * codegen'd pass ([[graft.plans.ScoreExpression]]; the `aggregate` HOF
    * lambda evaluated interpreted, paying an md5 hex encode + substring/
    * ascii probes + element_at per TOKEN). [[scoreColSpec]] keeps the
    * composable spelling as the pinned specification twin; the DuckDB twin
    * ([[scoreSql]]) is unchanged. */
  private[graft] def scoreCol(toks: Column, salt: String, table: Seq[Long]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.ScoreExpression(
      ColumnBridge.expression(toks), salt, table))
  }

  /** The composable spelling [[scoreCol]] fuses — specification twin
    * (pinned == kernel by PropertySpec). */
  private[graft] def scoreColSpec(toks: Column, salt: String, table: Seq[Long]): Column = {
    val arr = array(table.map(lit): _*)
    aggregate(toks, lit(0L),
      (acc, t) => acc + element_at(arr, (bucketOf(salt, t) + 1).cast("int")))
  }

  private def scoreSql(toksExpr: String, salt: String, table: Seq[Long]): String =
    s"CAST(coalesce(list_sum(list_transform($toksExpr, t -> " +
      s"list_extract(${listLit(table)}, ${bucketSql(salt, "t")} + 1))), 0) AS BIGINT)"

  /** Linear quality score (milli) of a raw `text` column — the single
    * spelling `quality_classifier` and the quality-keeper policy share
    * (edit together with [[qualityScoreSql]]). split("") yields [""] —
    * score only when the doc has real tokens. */
  private[queries] def qualityScore(text: Column): Column =
    when(TextF.tokenCount(text).cast("bigint") === 0, lit(QcBias))
      .otherwise(scoreCol(TextF.tokens(text), "qc:", QcWeights) + QcBias)

  /** DuckDB twin of [[qualityScore]] over documents' `text`. */
  private[queries] def qualityScoreSql: String =
    s"CAST(CASE WHEN ${TextF.NormalizeTextSql} = '' THEN $QcBias " +
      s"ELSE ${scoreSql(TextF.TokensSql, "qc:", QcWeights)} + $QcBias END AS BIGINT)"

  /** DSIR log importance weight (milli-nats) of a raw `text` column — the
    * single spelling `dsir_score` and `importance_sample` both build on
    * (Synth-lockstep rule: edit together with [[dsirLogwSql]]). */
  private[queries] def dsirLogw(text: Column): Column = {
    val toks = TextF.tokens(text)
    // zip_with over two slices, NOT element_at over an index sequence: in
    // interpreted HOF evaluation each element_at(toks, i) re-evaluates the
    // whole regex+split per ELEMENT (O(tokens²) per doc — measured 9 s for
    // 5000 sf0.1 docs); the slice spelling evaluates toks a constant
    // number of times per row. Same bigrams, same oracle.
    val bigrams = when(size(toks) >= 2,
      zip_with(slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit("_"), b)))
      .otherwise(array().cast("array<string>"))
    when(TextF.tokenCount(text).cast("bigint") < 2, lit(0L))
      .otherwise(scoreCol(bigrams, "ds:", DsirDiff))
  }

  /** DuckDB twin of [[dsirLogw]] over a CTE exposing token list `t`. */
  private[queries] def dsirLogwSqlOverT: String = {
    val bigramsSql =
      "list_transform(range(1, len(t)), i -> concat(t[i], '_', t[i + 1]))"
    s"CASE WHEN len(t) < 2 THEN 0 ELSE ${scoreSql(bigramsSql, "ds:", DsirDiff)} END"
  }

  val defs: Map[String, Q] = Map(
    "substring_dedup" -> { (sp, dir) =>
      val base = Tables.documents(sp, dir).select(col("doc_id"), col("text"))
      val toks = TextF.tokens(
        when(col("doc_id") % 6 === 1, concat(col("text"), lit(" " + SubBoiler)))
          .otherwise(col("text")))
      val nWin = size(toks) - W + 1
      // guard: sequence(1, 0) would count DOWN in Spark; short docs get []
      val hashes = when(nWin >= 1,
        transform(sequence(lit(1), nWin), i =>
          md5(concat(lit("sub:"), array_join(slice(toks, i, lit(W)), " ")).cast("binary"))))
        .otherwise(array().cast("array<string>"))
      val wins = base.select(col("doc_id"), posexplode(hashes).as(Seq("pos", "h")))
      // one shuffle on the window hash; rank picks the corpus-wide first
      // occurrence, every later occurrence (rk > 1) is a duplicated span
      val ranked = wins
        .withColumn("rk", row_number().over(Window.partitionBy("h").orderBy("doc_id", "pos")))
      val perDoc = ranked.groupBy("doc_id").agg(
        count(lit(1)).as("n_win"),
        sum(when(col("rk") > 1, 1L).otherwise(0L)).as("n_dup"))
      base.select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_win"), lit(0L)).as("n_win"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"),
          (coalesce(col("n_dup"), lit(0L)) > 0).as("has_dup"))
        .orderBy("doc_id")
    },

    "quality_classifier" -> { (sp, dir) =>
      val nToks = TextF.tokenCount(col("text")).cast("bigint")
      Tables.documents(sp, dir)
        .select(col("doc_id"), nToks.as("n_toks"),
          qualityScore(col("text")).as("score_milli"))
        .withColumn("keep", col("score_milli") > 0)
        .orderBy("doc_id")
    },

    "dsir_score" -> { (sp, dir) =>
      val nToks = TextF.tokenCount(col("text")).cast("bigint")
      Tables.documents(sp, dir)
        .select(col("doc_id"),
          greatest(nToks - 1, lit(0L)).as("n_bigrams"),
          dsirLogw(col("text")).as("logw_milli"))
        .withColumn("keep", col("logw_milli") > 0)
        .orderBy("doc_id")
    }
  )

  // ---- DuckDB twins ----

  private val normSql = TextF.NormalizeTextSql
  private val toksSql = TextF.TokensSql

  val oracles: Map[String, String] = Map(
    "substring_dedup" ->
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 6 = 1 THEN concat(text, ' ', '$SubBoiler')
         |         ELSE text END AS text
         |  FROM documents
         |), toks AS (
         |  SELECT doc_id, $toksSql AS t FROM planted
         |), wins AS (
         |  SELECT doc_id, t, unnest(range(1, greatest(len(t) - ${W - 2}, 1))) AS i FROM toks
         |), hashed AS (
         |  SELECT doc_id, i,
         |    md5(concat('sub:', array_to_string(list_slice(t, i, i + ${W - 1}), ' '))) AS h
         |  FROM wins
         |), ranked AS (
         |  SELECT doc_id,
         |    row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rk
         |  FROM hashed
         |), per AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_win,
         |    CAST(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM ranked GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  CAST(coalesce(n_win, 0) AS BIGINT) AS n_win,
         |  CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup,
         |  coalesce(n_dup, 0) > 0 AS has_dup
         |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "quality_classifier" ->
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN $normSql = '' THEN 0 ELSE len($toksSql) END AS BIGINT) AS n_toks,
         |    $qualityScoreSql AS score_milli
         |  FROM documents
         |)
         |SELECT doc_id, n_toks, score_milli, score_milli > 0 AS keep
         |FROM scored
         |ORDER BY doc_id""".stripMargin,

    "dsir_score" -> {
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    CASE WHEN $normSql = '' THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS t
         |  FROM documents
         |), scored AS (
         |  SELECT doc_id,
         |    CAST(greatest(len(t) - 1, 0) AS BIGINT) AS n_bigrams,
         |    $dsirLogwSqlOverT AS logw_milli
         |  FROM toks
         |)
         |SELECT doc_id, n_bigrams, CAST(logw_milli AS BIGINT) AS logw_milli,
         |  logw_milli > 0 AS keep
         |FROM scored
         |ORDER BY doc_id""".stripMargin
    }
  )
}
