package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{SimF, TextF}

/** Round-7 batch: corpus-hygiene and contrastive-mining operators.
  *
  *  - `boilerplate_strip`: CCNet-style per-source boilerplate removal
  *    (Wenzek et al. 2020 §2.1): a paragraph chunk that appears in ≥ 1/4 of
  *    a source's documents (min [[BoilerMinDocs]]) is site furniture —
  *    headers, footers, cookie banners — and is stripped from EVERY doc of
  *    that source (unlike para_dedup, which keeps the globally-first copy).
  *    Shapes: one (source, para) count over distinct (source, para, doc)
  *    triples, the flagged set re-joined BROADCAST (boilerplate is rare by
  *    definition), doc reassembly in one grouped aggregate. The planted
  *    chunk on doc_id % 4 == 0 lands in every doc of the sources whose id ≡
  *    0 (mod 4) — both the fires-everywhere and never-fires branches are
  *    exercised.
  *  - `split_holdout`: the deterministic train/valid/test assignment every
  *    corpus ships with — md5-bucket of doc_id (80/10/10), invariant to
  *    corpus order, partitioning, and re-runs; per-split doc/token/char
  *    mass. A narrow scan + 3-row aggregate.
  *  - `hard_negative_mine`: contrastive-pair mining for embedding-model
  *    training: per sampled query vector, the top-3 most-similar corpus
  *    vectors that are NOT near-duplicates (cos < the dedup_embedding 0.95
  *    cut) — hard negatives, the pairs that actually move a contrastive
  *    loss. The query side is the FIXED training batch (|Q| constant —
  *    the r8 probe caught the %-sampled query set growing with the corpus
  *    and going 11× at ×10 data; mining is per-batch, so Q must not scale
  *    with N), broadcast against one narrow corpus scan; top-3 is
  *    TWO-PHASE (salted per-group top-3, then global top-3 over ≤ 64·3
  *    survivors — same exact result, no N-row single-reducer window); at
  *    100 TB the candidate generation swaps to the sim_lsh / ann_ivf
  *    bucketed index with the same downstream filter.
  */
object Queries26 extends QuerySet {
  /** Planted boilerplate chunk (this file's own plant — distinct from
    * para_dedup's so the two detectors stay independently testable). */
  private[queries] val BoilerPara = "all rights reserved contact support team"

  /** A chunk must hit ≥ this many docs of the source (and ≥ 1/4 of them)
    * to be classed boilerplate. */
  private val BoilerMinDocs = 3

  /** Train/valid/test bucket of a doc id: 4 md5 hex nibbles (0..65535) mod
    * 100 — salted so the split is independent of any other md5 use. */
  private def splitBucket(id: Column): Column = {
    val h = md5(concat(lit("split:"), id.cast("string")).cast("binary"))
    val v = Seq(1, 2, 3, 4).map(i => Queries15.nibVal(substring(h, i, 1)))
      .reduce((a, b) => a * 16 + b)
    v % 100
  }

  private def splitBucketSql: String = {
    val h = "md5(concat('split:', CAST(doc_id AS VARCHAR)))"
    val v = Seq(1, 2, 3, 4).map(i => Queries15.nibSql(s"substr($h, $i, 1)"))
      .reduce((a, b) => s"($a * 16 + $b)")
    s"($v % 100)"
  }

  val defs: Map[String, Q] = Map(
    "boilerplate_strip" -> { (sp, dir) =>
      val d = col("doc_id")
      val docs = Tables.documents(sp, dir)
        .withColumn("paras", Queries11.parasOf(TextF.tokens(col("text"))))
        .withColumn("paras",
          when(d % 4 === 0, concat(col("paras"), array(lit(BoilerPara))))
            .otherwise(col("paras")))
      // the exploded chunk table feeds the df count and the reassembly —
      // cached so documents chunk once
      val ex = graft.util.CacheScope.track(
        docs.select(d, col("source"), posexplode(col("paras")).as(Seq("pos", "para"))))
      val nsrc = Tables.documents(sp, dir)
        .groupBy("source").agg(count(lit(1)).as("n_docs_src"))
      val flagged = ex.select(col("source"), col("para"), d).distinct()
        .groupBy("source", "para").agg(count(lit(1)).as("ndocs_para"))
        .join(nsrc, Seq("source"))
        // integer cross-multiply, no ratio floats (repo oracle rule)
        .filter(col("ndocs_para") * 4 >= col("n_docs_src") &&
          col("ndocs_para") >= BoilerMinDocs)
        .select(col("source"), col("para"), lit(true).as("is_boiler"))
      ex.join(broadcast(flagged), Seq("source", "para"), "left")
        .withColumn("is_boiler", coalesce(col("is_boiler"), lit(false)))
        .groupBy(d)
        .agg(
          count(lit(1)).as("n_paras"),
          sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_boiler"),
          md5(array_join(
            transform(
              array_sort(collect_list(when(!col("is_boiler"),
                struct(col("pos"), col("para"))))),
              x => x.getField("para")),
            " ").cast("binary")).as("kept_fp"))
        .orderBy("doc_id")
    },

    "split_holdout" -> { (sp, dir) =>
      Tables.documents(sp, dir)
        .select(
          when(splitBucket(col("doc_id")) < 80, "train")
            .when(splitBucket(col("doc_id")) < 90, "valid")
            .otherwise("test").as("split"),
          TextF.tokenCount(col("text")).cast("bigint").as("toks"),
          col("n_chars"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("sum_tokens"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("split")
    },

    "hard_negative_mine" -> { (sp, dir) =>
      val emb = Tables.embeddings(sp, dir)
      // the training batch: FIXED queries (vec_id < 500, every 50th) — a
      // query set that scaled with the corpus made the whole job quadratic
      val qs = broadcast(emb.filter(col("vec_id") < 500 && col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          SimF.norm(col("embedding")).as("qn")))
      val cand = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"),
        SimF.norm(col("embedding")).as("nn"))
      val denom = col("qn") * col("nn")
      val cos = when(denom === 0.0, lit(null)).otherwise(SimF.dot(col("qv"), col("nv")) / denom)
      val scored = cand.join(qs, col("qid") =!= col("nid"))
        .withColumn("cos", cos)
        // near-dups (the dedup_embedding cut) are NOT negatives — exclude
        .filter(col("cos").isNotNull && col("cos") < 0.95)
      // two-phase exact top-3: per-(qid, salt) top-3 first (64-way
      // parallel), then global top-3 over the ≤ 64·3 survivors — the
      // global top-3 is a subset of the salted top-3s, so the result is
      // identical to the one-reducer window it replaces
      val w1 = Window.partitionBy("qid", "salt").orderBy(col("cos").desc, col("nid"))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      scored
        .withColumn("salt", pmod(col("nid"), lit(64L)))
        .withColumn("rk1", row_number().over(w1))
        .filter(col("rk1") <= 3)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("qid"), col("rk"), col("nid"),
          round(col("cos") * 1e6).cast("bigint").as("cos_e6"))
        .orderBy("qid", "rk")
    }
  )

  val oracles: Map[String, String] = Map(
    "boilerplate_strip" -> {
      val toksSql = TextF.TokensSql
      s"""WITH t AS (
         |  SELECT doc_id, source, text, $toksSql AS w FROM documents
         |),
         |p AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 4 = 0 THEN list_concat(paras0, ['$BoilerPara'])
         |         ELSE paras0 END AS paras
         |  FROM (SELECT doc_id, source, text, ${Queries11.parasSql("w")} AS paras0 FROM t) q
         |),
         |ex AS (
         |  SELECT doc_id, source, unnest(paras) AS para,
         |    unnest(range(0, len(paras))) AS pos
         |  FROM p
         |),
         |nsrc AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs_src
         |  FROM documents GROUP BY source
         |),
         |flagged AS (
         |  SELECT source, para
         |  FROM (
         |    SELECT source, para, CAST(count(DISTINCT doc_id) AS BIGINT) AS ndocs_para
         |    FROM ex GROUP BY source, para
         |  ) dfp JOIN nsrc USING (source)
         |  WHERE ndocs_para * 4 >= n_docs_src AND ndocs_para >= $BoilerMinDocs
         |),
         |marked AS (
         |  SELECT e.doc_id, e.pos, e.para, f.para IS NOT NULL AS is_boiler
         |  FROM ex e LEFT JOIN flagged f ON e.source = f.source AND e.para = f.para
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
         |  CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         |  md5(coalesce(string_agg(CASE WHEN NOT is_boiler THEN para END, ' '
         |        ORDER BY pos), '')) AS kept_fp
         |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "split_holdout" ->
      s"""WITH b AS (
         |  SELECT CASE WHEN $splitBucketSql < 80 THEN 'train'
         |              WHEN $splitBucketSql < 90 THEN 'valid'
         |              ELSE 'test' END AS split,
         |    CAST(CASE WHEN ${TextF.NormalizeTextSql} = '' THEN 0
         |              ELSE len(${TextF.TokensSql}) END AS BIGINT) AS toks,
         |    n_chars
         |  FROM documents
         |)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS sum_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM b GROUP BY split ORDER BY split""".stripMargin,

    "hard_negative_mine" ->
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id < 500 AND vec_id % 50 = 0
         |),
         |c AS (SELECT vec_id AS nid, embedding AS nv FROM embeddings),
         |s AS (
         |  SELECT qid, nid,
         |    ${Queries3.dotSqlShared("qv", "nv")} /
         |      (sqrt(${Queries3.dotSqlShared("qv", "qv")}) * sqrt(${Queries3.dotSqlShared("nv", "nv")})) AS cos
         |  FROM q JOIN c ON qid <> nid
         |),
         |r AS (
         |  SELECT qid, nid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |  FROM s WHERE cos IS NOT NULL AND cos < 0.95
         |)
         |SELECT qid, rk, nid, CAST(round(cos * 1e6) AS BIGINT) AS cos_e6
         |FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin
  )
}
