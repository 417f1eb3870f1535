package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-13 batch #2 — corpus-engineering planners and audits:
  *
  *  - `mixture_temperature_plan`: temperature-scaled source sampling — the
  *    standard pretraining mixture knob (weights ∝ n^(1/T)): per source,
  *    exact sampling ppm at T=1 (proportional), T=2 (sqrt — computed as an
  *    EXACT integer sqrt: float sqrt + a ±1 correction so both engines
  *    agree at perfect-square boundaries), and T=∞ (uniform). The whole
  *    plan reads one token-count rollup (|sources| rows).
  *  - `minhash_seed_stability`: are LSH candidate pairs an artifact of the
  *    seed choice? Two INDEPENDENT 4-permutation MinHash families (2
  *    bands × 2 rows each) generate candidate sets; reports their overlap
  *    (Jaccard of the two pair SETS, exact ppm). Banded self-joins —
  *    shuffle ∝ bands·N, pairs only within buckets, the dedup_minhash
  *    scale shape.
  *  - `filter_threshold_sweep`: corpus_filter's planner twin — pass-rate
  *    and surviving token mass for min-token thresholds {10, 20, 40},
  *    read from ONE per-doc length rollup before anyone pays for the
  *    actual filter+rewrite.
  *  - `cdc_shift_robustness`: the content-defined-chunking sales pitch,
  *    measured: insert one token at position 0 of every doc and report
  *    what share of each strategy's chunk set survives — CDC boundaries
  *    (md5-gated, the cdc_chunk_dedup gate) re-synchronize after the
  *    first boundary; FIXED 8-token windows all shift and share ~nothing.
  *    Set semantics per (doc, chunk_hash); two rows, one per strategy.
  *  - `deleted_interpolation`: Brants-style deleted-interpolation weights
  *    for a bigram back-off LM — each bigram's mass votes for λ₂ when
  *    (c_ab−1)/(c_a−1) > (c_b−1)/(N−1), compared EXACTLY by
  *    cross-multiplication (no division, no floats; exact to N ≈ 3×10⁹
  *    tokens). One bigram rollup + two broadcast unigram joins.
  */
object Queries179 extends QuerySet {
  private val Thresholds = Seq(10L, 20L, 40L)
  private val ChunkTok = 8

  /** Exact integer sqrt: float sqrt then a ±1 correction (both engines
    * evaluate the same expression, so boundary rounding cannot diverge). */
  private def isqrt(n: String): String = {
    val s0 = s"CAST(floor(sqrt(CAST($n AS DOUBLE))) AS BIGINT)"
    s"($s0 + (CASE WHEN (($s0) + 1) * (($s0) + 1) <= $n THEN 1 ELSE 0 END)" +
      s" - (CASE WHEN ($s0) * ($s0) > $n THEN 1 ELSE 0 END))"
  }

  private def minhashCompSql(seed: Int): String =
    s"list_min(list_transform(sh, s -> md5(concat('$seed:', s))))"

  /** Distinct candidate pairs (a < b) from a 2-band × 2-row signature
    * family built on the given seeds. */
  private def bandPairs(sigs: DataFrame, seeds: Seq[Int]): DataFrame = {
    val banded = sigs.select(col("doc_id"),
      explode(array(
        md5(concat_ws("|", lit("b0"), col(s"c${seeds(0)}"), col(s"c${seeds(1)}")).cast("binary")),
        md5(concat_ws("|", lit("b1"), col(s"c${seeds(2)}"), col(s"c${seeds(3)}")).cast("binary"))))
        .as("bucket"))
    banded.as("l").join(banded.as("r"), Seq("bucket"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .distinct()
  }

  /** (doc_id, chunk_hash) DISTINCT chunk sets for both strategies over a
    * (doc_id, pos, tok) frame; `strategy` ∈ cdc | fixed. */
  private def chunkSets(toks: DataFrame, strategy: String): DataFrame = {
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val seg = strategy match {
      case "cdc" =>
        toks.withColumn("bd",
          when(substring(md5(col("tok").cast("binary")), 1, 1).isin("0", "1"), 1L)
            .otherwise(0L))
          .withColumn("seg", sum("bd").over(byPos))
      case _ =>
        toks.withColumn("seg", expr(s"(rn - 1) div $ChunkTok"))
    }
    seg.groupBy("doc_id", "seg")
      .agg(md5(array_join(transform(
        sort_array(collect_list(struct(col("pos"), col("tok")))),
        s => s.getField("tok")), " ").cast("binary")).as("chunk_hash"))
      .select("doc_id", "chunk_hash").distinct()
  }

  val defs: Map[String, Q] = Map(
    "mixture_temperature_plan" -> { (sp, dir) =>
      val tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.documents(sp, dir)
        .select(col("source"), TextF.tokenCount(col("text")).cast("long").as("n"))
        .groupBy("source").agg(count(lit(1)).as("n_docs"), sum("n").as("n_toks"))
        .withColumn("w2", expr(isqrt("n_toks")))
        .withColumn("t1_tot", sum("n_toks").over(tot))
        .withColumn("t2_tot", sum("w2").over(tot))
        .withColumn("nsrc", count(lit(1)).over(tot))
        .select(col("source"), col("n_docs"), col("n_toks"),
          expr("n_toks * 1000000 div t1_tot").as("ppm_t1"),
          expr("w2 * 1000000 div t2_tot").as("ppm_t2"),
          expr("1000000 div nsrc").as("ppm_uniform"))
        .orderBy("source")
    },

    "minhash_seed_stability" -> { (sp, dir) =>
      val seedsA = Seq(0, 1, 2, 3)
      val seedsB = Seq(100, 101, 102, 103)
      // r16: ONE fused kernel pass computes all 8 seed components (the
      // per-seed array_min(transform(...)) spelling walked the shingle
      // array 8× interpreted); array_distinct dropped — min over a multiset
      // equals min over its distinct set, and emptiness is unchanged
      val allSeeds = seedsA ++ seedsB
      val sigs = graft.util.CacheScope.track(
        Tables.documents(sp, dir)
          .withColumn("sh", TextF.shinglesFromTokens(TextF.tokens(col("text")), 3))
          .filter(size(col("sh")) > 0)
          .withColumn("cs", TextF.minhashComponents(col("sh"), allSeeds))
          .select(Seq(col("doc_id")) ++
            allSeeds.zipWithIndex.map { case (s, i) => col("cs").getItem(i).as(s"c$s") }: _*))
      val pa = bandPairs(sigs, seedsA).withColumn("in_a", lit(1L))
      val pb = bandPairs(sigs, seedsB).withColumn("in_b", lit(1L))
      pa.join(pb, Seq("a", "b"), "full_outer")
        .agg(sum(coalesce(col("in_a"), lit(0L))).as("n_pairs_a"),
          sum(coalesce(col("in_b"), lit(0L))).as("n_pairs_b"),
          sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L).otherwise(0L))
            .as("n_common"))
        .withColumn("jaccard_ppm",
          expr("n_common * 1000000 div greatest(n_pairs_a + n_pairs_b - n_common, 1)"))
    },

    "filter_threshold_sweep" -> { (sp, dir) =>
      import sp.implicits._
      val lens = Tables.documents(sp, dir)
        .select(TextF.tokenCount(col("text")).cast("long").as("n"))
        .groupBy("n").agg(count(lit(1)).as("docs"))
      val tot = lens.agg(sum("docs").as("all_docs"),
        sum(expr("n * docs")).as("all_toks"))
      lens.crossJoin(broadcast(Thresholds.toDF("threshold")))
        .groupBy("threshold")
        .agg(sum(when(col("n") >= col("threshold"), col("docs")).otherwise(0L)).as("n_pass"),
          sum(when(col("n") >= col("threshold"), expr("n * docs")).otherwise(0L)).as("tokens_pass"))
        .crossJoin(broadcast(tot))
        .select(col("threshold"), col("n_pass"), col("tokens_pass"),
          expr("n_pass * 1000 div all_docs").as("doc_share_pm"),
          expr("tokens_pass * 1000 div all_toks").as("token_share_pm"))
        .orderBy("threshold")
    },

    "cdc_shift_robustness" -> { (sp, dir) =>
      val orig = graft.util.CacheScope.track(
        Tables.documents(sp, dir)
          .select(col("doc_id"), posexplode(TextF.tokens(col("text"))).as(Seq("pos", "tok"))))
      val pert = graft.util.CacheScope.track(
        orig.unionByName(
          orig.select(col("doc_id")).distinct()
            .select(col("doc_id"), lit(-1).as("pos"), lit("zzz").as("tok"))))
      def withRn(df: DataFrame) = df.withColumn("rn",
        row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      val rows = Seq("cdc", "fixed").map { strat =>
        val o = chunkSets(withRn(orig), strat)
        val p = chunkSets(withRn(pert), strat)
        o.join(p, Seq("doc_id", "chunk_hash"), "left_semi")
          .agg(count(lit(1)).as("n_shared"))
          .crossJoin(broadcast(o.agg(count(lit(1)).as("n_orig_chunks"))))
          .select(lit(strat).as("strategy"), col("n_orig_chunks"), col("n_shared"),
            expr("n_shared * 1000 div n_orig_chunks").as("shared_pm"))
      }
      rows.reduce(_.union(_)).orderBy("strategy")
    },

    "deleted_interpolation" -> { (sp, dir) =>
      val docs = graft.util.CacheScope.track(
        Tables.documents(sp, dir)
          .select(TextF.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 2))
      val uni = graft.util.CacheScope.track(
        docs.select(explode(col("toks")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c")))
      val tot = uni.agg(sum("c").as("n_tokens"))
      val bi = docs
        .select(explode(expr(
          "slice(zip_with(toks, slice(toks, 2, size(toks)), " +
            "(a, b) -> concat(a, char(1), b)), 1, size(toks) - 1)")).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c_ab"))
        .withColumn("prev", substring_index(col("bg"), "", 1))
        .withColumn("nxt", substring_index(col("bg"), "", -1))
      bi.join(uni.select(col("w").as("prev"), col("c").as("c_a")), Seq("prev"))
        .join(uni.select(col("w").as("nxt"), col("c").as("c_b")), Seq("nxt"))
        .crossJoin(broadcast(tot))
        .agg(count(lit(1)).as("n_bigram_types"),
          sum("c_ab").as("bigram_mass"),
          sum(when(expr("(c_ab - 1) * (n_tokens - 1) > (c_b - 1) * (c_a - 1)"),
            col("c_ab")).otherwise(0L)).as("lambda2_mass"))
        .withColumn("lambda1_mass", expr("bigram_mass - lambda2_mass"))
        .withColumn("lambda2_ppm", expr("lambda2_mass * 1000000 div bigram_mass"))
    }
  )

  // ---- DuckDB twins ----

  private val toksSql = TextF.TokensSql

  val oracles: Map[String, String] = Map(
    "mixture_temperature_plan" -> {
      val sq = isqrt("n_toks")
      s"""WITH per AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN ${TextF.NormalizeTextSql} = '' THEN 0
         |                  ELSE len($toksSql) END) AS BIGINT) AS n_toks
         |  FROM documents GROUP BY 1)
         |SELECT source, n_docs, n_toks,
         |  CAST(n_toks * 1000000 // (sum(n_toks) OVER ()) AS BIGINT) AS ppm_t1,
         |  CAST($sq * 1000000 // (sum($sq) OVER ()) AS BIGINT) AS ppm_t2,
         |  CAST(1000000 // (count(*) OVER ()) AS BIGINT) AS ppm_uniform
         |FROM per ORDER BY source""".stripMargin
    },

    "minhash_seed_stability" -> {
      def sigCols(seeds: Seq[Int]) =
        seeds.map(s => s"${minhashCompSql(s)} AS c$s").mkString(", ")
      def bandCte(name: String, seeds: Seq[Int]) =
        s"""$name AS (
           |  SELECT l.doc_id AS a, r.doc_id AS b
           |  FROM banded l JOIN banded r USING (bucket)
           |  WHERE l.doc_id < r.doc_id AND l.fam = '$name' AND r.fam = '$name'
           |  GROUP BY 1, 2)""".stripMargin
      s"""WITH sigs AS (
         |  SELECT doc_id, ${sigCols(Seq(0, 1, 2, 3))}, ${sigCols(Seq(100, 101, 102, 103))}
         |  FROM (
         |    SELECT doc_id, list_distinct(${shSql(3)}) AS sh FROM documents
         |  ) t WHERE len(sh) > 0),
         |banded AS (
         |  SELECT doc_id, 'pa' AS fam,
         |         unnest([md5(concat('b0', '|', c0, '|', c1)),
         |                 md5(concat('b1', '|', c2, '|', c3))]) AS bucket
         |  FROM sigs
         |  UNION ALL
         |  SELECT doc_id, 'pb' AS fam,
         |         unnest([md5(concat('b0', '|', c100, '|', c101)),
         |                 md5(concat('b1', '|', c102, '|', c103))]) AS bucket
         |  FROM sigs),
         |${bandCte("pa", Seq(0, 1, 2, 3))},
         |${bandCte("pb", Seq(100, 101, 102, 103))},
         |j AS (
         |  SELECT coalesce(pa.a, pb.a) AS a,
         |    CASE WHEN pa.a IS NOT NULL THEN 1 ELSE 0 END AS in_a,
         |    CASE WHEN pb.a IS NOT NULL THEN 1 ELSE 0 END AS in_b
         |  FROM pa FULL OUTER JOIN pb ON pa.a = pb.a AND pa.b = pb.b)
         |SELECT CAST(sum(in_a) AS BIGINT) AS n_pairs_a,
         |  CAST(sum(in_b) AS BIGINT) AS n_pairs_b,
         |  CAST(sum(in_a * in_b) AS BIGINT) AS n_common,
         |  CAST(sum(in_a * in_b) * 1000000
         |    // greatest(sum(in_a) + sum(in_b) - sum(in_a * in_b), 1) AS BIGINT) AS jaccard_ppm
         |FROM j""".stripMargin
    },

    "filter_threshold_sweep" ->
      s"""WITH lens AS (
         |  SELECT CASE WHEN ${TextF.NormalizeTextSql} = '' THEN 0
         |              ELSE CAST(len($toksSql) AS BIGINT) END AS n
         |  FROM documents),
         |th AS (SELECT CAST(unnest([${Thresholds.mkString(", ")}]) AS BIGINT) AS threshold)
         |SELECT threshold,
         |  CAST(sum(CASE WHEN n >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  CAST(sum(CASE WHEN n >= threshold THEN n ELSE 0 END) AS BIGINT) AS tokens_pass,
         |  CAST(sum(CASE WHEN n >= threshold THEN 1 ELSE 0 END) * 1000
         |    // (SELECT count(*) FROM lens) AS BIGINT) AS doc_share_pm,
         |  CAST(sum(CASE WHEN n >= threshold THEN n ELSE 0 END) * 1000
         |    // (SELECT sum(n) FROM lens) AS BIGINT) AS token_share_pm
         |FROM lens CROSS JOIN th
         |GROUP BY threshold ORDER BY threshold""".stripMargin,

    "cdc_shift_robustness" -> {
      def chunksCte(src: String, name: String, fixed: Boolean) = {
        val seg =
          if (fixed) s"(row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1) // $ChunkTok"
          else "sum(CASE WHEN substring(md5(tok), 1, 1) IN ('0', '1') THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos)"
        s"""$name AS (
           |  SELECT DISTINCT doc_id, chunk_hash FROM (
           |    SELECT doc_id, seg, md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
           |    FROM (SELECT doc_id, pos, tok, $seg AS seg FROM $src) x
           |    GROUP BY doc_id, seg) y)""".stripMargin
      }
      s"""WITH orig AS (
         |  SELECT doc_id, generate_subscripts($toksSql, 1) - 1 AS pos,
         |         unnest($toksSql) AS tok
         |  FROM documents),
         |pert AS (
         |  SELECT * FROM orig
         |  UNION ALL
         |  SELECT DISTINCT doc_id, -1 AS pos, 'zzz' AS tok FROM orig),
         |${chunksCte("orig", "oc", fixed = false)},
         |${chunksCte("pert", "pc", fixed = false)},
         |${chunksCte("orig", "of_", fixed = true)},
         |${chunksCte("pert", "pf", fixed = true)},
         |res AS (
         |  SELECT 'cdc' AS strategy,
         |    CAST((SELECT count(*) FROM oc) AS BIGINT) AS n_orig_chunks,
         |    CAST((SELECT count(*) FROM oc SEMI JOIN pc
         |          ON oc.doc_id = pc.doc_id AND oc.chunk_hash = pc.chunk_hash) AS BIGINT) AS n_shared
         |  UNION ALL
         |  SELECT 'fixed' AS strategy,
         |    CAST((SELECT count(*) FROM of_) AS BIGINT),
         |    CAST((SELECT count(*) FROM of_ SEMI JOIN pf
         |          ON of_.doc_id = pf.doc_id AND of_.chunk_hash = pf.chunk_hash) AS BIGINT))
         |SELECT strategy, n_orig_chunks, n_shared,
         |  CAST(n_shared * 1000 // n_orig_chunks AS BIGINT) AS shared_pm
         |FROM res ORDER BY strategy""".stripMargin
    },

    "deleted_interpolation" ->
      s"""WITH docs AS (
         |  SELECT $toksSql AS toks FROM documents
         |  WHERE len($toksSql) >= 2 AND ${TextF.NormalizeTextSql} <> ''),
         |uni AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(toks) AS w FROM docs) t GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM uni),
         |bi AS (
         |  SELECT bg, CAST(count(*) AS BIGINT) AS c_ab,
         |    split_part(bg, chr(1), 1) AS prev, split_part(bg, chr(1), 2) AS nxt
         |  FROM (
         |    SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
         |      i -> concat(list_extract(toks, i), chr(1), list_extract(toks, i + 1)))) AS bg
         |    FROM docs) t
         |  GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_bigram_types,
         |  CAST(sum(c_ab) AS BIGINT) AS bigram_mass,
         |  CAST(sum(CASE WHEN (c_ab - 1) * (n_tokens - 1) > (cb.c - 1) * (ca.c - 1)
         |               THEN c_ab ELSE 0 END) AS BIGINT) AS lambda2_mass,
         |  CAST(sum(c_ab) - sum(CASE WHEN (c_ab - 1) * (n_tokens - 1) > (cb.c - 1) * (ca.c - 1)
         |               THEN c_ab ELSE 0 END) AS BIGINT) AS lambda1_mass,
         |  CAST(sum(CASE WHEN (c_ab - 1) * (n_tokens - 1) > (cb.c - 1) * (ca.c - 1)
         |               THEN c_ab ELSE 0 END) * 1000000 // sum(c_ab) AS BIGINT) AS lambda2_ppm
         |FROM bi JOIN uni ca ON ca.w = bi.prev JOIN uni cb ON cb.w = bi.nxt
         |CROSS JOIN tot""".stripMargin
  )

  /** SQL twin of TextF.shinglesFromTokens(tokens, k) over raw `text` —
    * inlines the token split (oracle-side only; DuckDB at sf0.01). */
  private def shSql(k: Int): String = {
    val parts = (0 until k).map(j => s"list_extract($toksSql, i + $j)").mkString(", ' ', ")
    s"list_transform(range(1, len($toksSql) - ${k - 2}), i -> concat($parts))"
  }
}
