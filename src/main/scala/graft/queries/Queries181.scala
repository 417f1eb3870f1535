package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-13 batch #4 — dedup-quality audits and corpus correlations:
  *
  *  - `prefix_dup_rate`: share of docs whose 5-token PREFIX is shared with
  *    another doc (boilerplate-intro detection — docs that open
  *    identically but diverge later escape whole-doc dedup), per source;
  *    corpus-wide prefix rollup + one co-partitioned join back.
  *  - `dedup_sampling_bias`: does measuring the dup rate on a half-sample
  *    bias it? Exact-dup rate (fingerprint rollup) on the full corpus vs
  *    the deterministic doc_id-parity half — the measurement-protocol
  *    audit for corpus reports; duplicates correlate with their copies,
  *    so the half-sample UNDER-counts.
  *  - `length_quality_corr`: per-source Pearson components between doc
  *    token count and distinct-token count (lexical breadth) — exact
  *    integer n·Σxy − ΣxΣy form (Queries178 machinery), r² per-mille +
  *    sign; one per-doc projection + one rollup.
  *  - `dedup_idempotence`: run banded-MinHash verified dedup (2 bands × 2
  *    rows, ≥3-of-4 component agreement, connected-components clusters,
  *    keep-min), then re-run candidate+verify over the KEPT set — the
  *    residual pair count measures similarity NON-TRANSITIVITY (cluster
  *    representatives of different clusters can still collide). The
  *    operational answer to "do I need a second dedup pass?".
  *  - `dup_length_bias`: token-length profile of duplicated vs unique
  *    docs (fingerprint groups ≥2) — does dedup disproportionately remove
  *    short docs; one fingerprint rollup + one join back.
  */
object Queries181 extends QuerySet {
  private val PrefixK = 5
  private val Seeds = Seq(0, 1, 2, 3)

  /** doc_id + 4 minhash components over 3-shingles — one fused kernel pass
    * (r16, [[TextF.minhashComponents]]); array_distinct dropped (min over a
    * multiset == min over its distinct set, and emptiness is unchanged). */
  private def sigs(sp: SparkSession, dir: String): DataFrame =
    Tables.documents(sp, dir)
      .withColumn("sh", TextF.shinglesFromTokens(TextF.tokens(col("text")), 3))
      .filter(size(col("sh")) > 0)
      .withColumn("cs", TextF.minhashComponents(col("sh"), Seeds))
      .select(Seq(col("doc_id")) ++
        Seeds.zipWithIndex.map { case (s, i) => col("cs").getItem(i).as(s"c$s") }: _*)

  /** Distinct banded candidate pairs (a < b) within a doc-id subset. */
  private def candPairs(sig: DataFrame): DataFrame = {
    val banded = sig.select(col("doc_id"),
      explode(array(
        md5(concat_ws("|", lit("b0"), col("c0"), col("c1")).cast("binary")),
        md5(concat_ws("|", lit("b1"), col("c2"), col("c3")).cast("binary")))).as("bucket"))
    banded.as("l").join(banded.as("r"), Seq("bucket"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .distinct()
  }

  /** Candidate pairs that pass the ≥3-of-4 component-agreement verify. */
  private def verifiedPairs(sig: DataFrame): DataFrame = {
    val sa = sig.select(col("doc_id").as("a") +: Seeds.map(s => col(s"c$s").as(s"a$s")): _*)
    val sb = sig.select(col("doc_id").as("b") +: Seeds.map(s => col(s"c$s").as(s"b$s")): _*)
    candPairs(sig).join(sa, "a").join(sb, "b")
      .filter(expr(Seeds.map(s => s"CASE WHEN a$s = b$s THEN 1 ELSE 0 END").mkString(" + ") + " >= 3"))
      .select("a", "b")
  }

  val defs: Map[String, Q] = Map(
    "prefix_dup_rate" -> { (sp, dir) =>
      val pre = graft.util.CacheScope.track(
        Tables.documents(sp, dir)
          .withColumn("toks", TextF.tokens(col("text")))
          .filter(size(col("toks")) >= PrefixK)
          .select(col("source"), col("doc_id"),
            array_join(slice(col("toks"), 1, PrefixK), " ").as("prefix")))
      val counts = pre.groupBy("prefix").agg(count(lit(1)).as("pcnt"))
      pre.join(counts, "prefix")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pcnt") >= 2, 1L).otherwise(0L)).as("n_shared_prefix"))
        .withColumn("shared_pm", expr("n_shared_prefix * 1000 div n_docs"))
        .orderBy("source")
    },

    "dedup_sampling_bias" -> { (sp, dir) =>
      val fps = graft.util.CacheScope.track(
        Tables.documents(sp, dir)
          .select(col("doc_id"), TextF.docFingerprint(col("text")).as("fp")))
      def dupStats(df: DataFrame, nCol: String, pmCol: String): DataFrame =
        df.agg(count(lit(1)).as(nCol), countDistinct("fp").as("nd"))
          .select(col(nCol), expr(s"($nCol - nd) * 1000 div $nCol").as(pmCol))
      dupStats(fps, "n_full", "dup_pm_full")
        .crossJoin(broadcast(
          dupStats(fps.filter(expr("doc_id % 2 = 0")), "n_half", "dup_pm_half")))
        .withColumn("delta_pm", expr("dup_pm_half - dup_pm_full"))
    },

    "length_quality_corr" -> { (sp, dir) =>
      Queries178.corrCols(
        Tables.documents(sp, dir)
          .select(col("source"), TextF.tokens(col("text")).as("toks"))
          .select(col("source"), size(col("toks")).cast("long").as("x"),
            size(array_distinct(col("toks"))).cast("long").as("y"))
          // match the SQL twin: '' normalizes to one empty token either way
          .groupBy("source")
          .agg(count(lit(1)).as("np"), sum("x").as("sx"), sum("y").as("sy"),
            sum(expr("x * y")).as("sxy"),
            sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy")))
        .select(col("source"), col("np").as("n_docs"), col("cov_num"),
          col("r2_pm"), col("corr_sign"))
        .orderBy("source")
    },

    "dedup_idempotence" -> { (sp, dir) =>
      val sig = graft.util.CacheScope.track(sigs(sp, dir))
      val ver1 = graft.util.CacheScope.track(verifiedPairs(sig))
      val comp = graft.operators.ConnectedComponents.run(
        ver1.select(col("a").as("src"), col("b").as("dst")))
      // keeper = the component's min id; docs in no pair keep themselves
      val dropped = comp.filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
      val keepSig = sig.join(dropped, Seq("doc_id"), "left_anti")
      val r2 = verifiedPairs(keepSig).agg(count(lit(1)).as("r2_pairs"))
      sig.agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(ver1.agg(count(lit(1)).as("r1_pairs"))))
        .crossJoin(broadcast(keepSig.agg(count(lit(1)).as("n_keepers"))))
        .crossJoin(broadcast(r2))
        .withColumn("residual_pm", expr("r2_pairs * 1000 div greatest(r1_pairs, 1)"))
    },

    "dup_length_bias" -> { (sp, dir) =>
      val docs = graft.util.CacheScope.track(
        Tables.documents(sp, dir)
          .select(col("doc_id"), TextF.docFingerprint(col("text")).as("fp"),
            TextF.tokenCount(col("text")).cast("long").as("n_toks")))
      val grp = docs.groupBy("fp").agg(count(lit(1)).as("gsize"))
      docs.join(grp, "fp")
        .groupBy(when(col("gsize") >= 2, lit("dup")).otherwise(lit("unique")).as("status"))
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("tokens"))
        .withColumn("avg_toks_milli", expr("tokens * 1000 div n_docs"))
        .orderBy("status")
    }
  )

  // ---- DuckDB twins ----

  private val toksSql = TextF.TokensSql
  private val normSql = TextF.NormalizeTextSql

  private def minhashCompSql(seed: Int): String =
    s"list_min(list_transform(sh, s -> md5(concat('$seed:', s))))"

  private def shSql(k: Int): String = {
    val parts = (0 until k).map(j => s"list_extract($toksSql, i + $j)").mkString(", ' ', ")
    s"list_transform(range(1, len($toksSql) - ${k - 2}), i -> concat($parts))"
  }

  /** sigs / banded / cand / ver CTE block (names parameterized so the
    * idempotence oracle can instantiate it twice). */
  private def verCtes(sigSrc: String, pfx: String): String =
    s"""${pfx}banded AS (
       |  SELECT doc_id, unnest([md5(concat('b0', '|', c0, '|', c1)),
       |                         md5(concat('b1', '|', c2, '|', c3))]) AS bucket
       |  FROM $sigSrc),
       |${pfx}cand AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b
       |  FROM ${pfx}banded l JOIN ${pfx}banded r USING (bucket)
       |  WHERE l.doc_id < r.doc_id GROUP BY 1, 2),
       |${pfx}ver AS (
       |  SELECT a, b
       |  FROM ${pfx}cand JOIN $sigSrc sa ON sa.doc_id = a
       |       JOIN $sigSrc sb ON sb.doc_id = b
       |  WHERE (CASE WHEN sa.c0 = sb.c0 THEN 1 ELSE 0 END
       |       + CASE WHEN sa.c1 = sb.c1 THEN 1 ELSE 0 END
       |       + CASE WHEN sa.c2 = sb.c2 THEN 1 ELSE 0 END
       |       + CASE WHEN sa.c3 = sb.c3 THEN 1 ELSE 0 END) >= 3)""".stripMargin

  val oracles: Map[String, String] = Map(
    "prefix_dup_rate" ->
      s"""WITH pre AS (
         |  SELECT source, doc_id,
         |    array_to_string(list_slice($toksSql, 1, $PrefixK), ' ') AS prefix
         |  FROM documents WHERE len($toksSql) >= $PrefixK AND $normSql <> ''),
         |counts AS (SELECT prefix, CAST(count(*) AS BIGINT) AS pcnt FROM pre GROUP BY 1)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN pcnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_prefix,
         |  CAST(sum(CASE WHEN pcnt >= 2 THEN 1 ELSE 0 END) * 1000
         |    // count(*) AS BIGINT) AS shared_pm
         |FROM pre JOIN counts USING (prefix)
         |GROUP BY source ORDER BY source""".stripMargin,

    "dedup_sampling_bias" ->
      s"""WITH fps AS (SELECT doc_id, md5($normSql) AS fp FROM documents),
         |full_ AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_full,
         |    CAST((count(*) - count(DISTINCT fp)) * 1000 // count(*) AS BIGINT) AS dup_pm_full
         |  FROM fps),
         |half AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_half,
         |    CAST((count(*) - count(DISTINCT fp)) * 1000 // count(*) AS BIGINT) AS dup_pm_half
         |  FROM fps WHERE doc_id % 2 = 0)
         |SELECT n_full, dup_pm_full, n_half, dup_pm_half,
         |  CAST(dup_pm_half - dup_pm_full AS BIGINT) AS delta_pm
         |FROM full_ CROSS JOIN half""".stripMargin,

    "length_quality_corr" ->
      s"""WITH per AS (
         |  SELECT source,
         |    CAST(len($toksSql) AS BIGINT) AS x,
         |    CAST(len(list_distinct($toksSql)) AS BIGINT) AS y
         |  FROM documents),
         |s AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS np,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
         |  FROM per GROUP BY 1)
         |SELECT source, np AS n_docs, np * sxy - sx * sy AS cov_num,
         |  CAST((np * sxy - sx * sy) * (np * sxy - sx * sy) * 1000
         |    // greatest((np * sxx - sx * sx) * (np * syy - sy * sy), 1) AS BIGINT) AS r2_pm,
         |  CAST(CASE WHEN np * sxy - sx * sy > 0 THEN 1
         |            WHEN np * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS BIGINT) AS corr_sign
         |FROM s ORDER BY source""".stripMargin,

    "dedup_idempotence" ->
      s"""WITH RECURSIVE sigs AS (
         |  SELECT doc_id, ${Seeds.map(s => s"${minhashCompSql(s)} AS c$s").mkString(", ")}
         |  FROM (SELECT doc_id, list_distinct(${shSql(3)}) AS sh FROM documents) t
         |  WHERE len(sh) > 0),
         |${verCtes("sigs", "")},
         |edges AS (SELECT a AS s, b AS d FROM ver UNION SELECT b, a FROM ver),
         |reach(id, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.id),
         |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
         |keepsigs AS (
         |  SELECT sigs.* FROM sigs LEFT JOIN comp ON comp.id = sigs.doc_id
         |  WHERE comp.id IS NULL OR comp.comp = sigs.doc_id),
         |${verCtes("keepsigs", "k")}
         |SELECT CAST((SELECT count(*) FROM sigs) AS BIGINT) AS n_docs,
         |  CAST((SELECT count(*) FROM ver) AS BIGINT) AS r1_pairs,
         |  CAST((SELECT count(*) FROM keepsigs) AS BIGINT) AS n_keepers,
         |  CAST((SELECT count(*) FROM kver) AS BIGINT) AS r2_pairs,
         |  CAST((SELECT count(*) FROM kver) * 1000
         |    // greatest((SELECT count(*) FROM ver), 1) AS BIGINT) AS residual_pm""".stripMargin,

    "dup_length_bias" ->
      s"""WITH docs AS (
         |  SELECT doc_id, md5($normSql) AS fp,
         |    CASE WHEN $normSql = '' THEN 0 ELSE CAST(len($toksSql) AS BIGINT) END AS n_toks
         |  FROM documents),
         |grp AS (SELECT fp, CAST(count(*) AS BIGINT) AS gsize FROM docs GROUP BY 1)
         |SELECT CASE WHEN gsize >= 2 THEN 'dup' ELSE 'unique' END AS status,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS tokens,
         |  CAST(sum(n_toks) * 1000 // count(*) AS BIGINT) AS avg_toks_milli
         |FROM docs JOIN grp USING (fp)
         |GROUP BY 1 ORDER BY status""".stripMargin
  )
}
