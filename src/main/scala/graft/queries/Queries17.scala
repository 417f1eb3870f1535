package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{SimF, TextF}

/** Round-7 continuation — evaluation and materialization operators:
  *
  *  - `ann_recall`: recall@3 of the IVF index against brute-force ground
  *    truth — the evaluation step every ANN deployment runs before
  *    trusting the index. The query set is BROADCAST (recall is always
  *    measured on a sample, Q ≪ N), so the truth pass is one narrow
  *    corpus scan + per-query top-k window; the IVF side reuses the
  *    `ann_ivf` plan unchanged.
  *  - `dedup_keep_longest`: quality-aware cluster representative — per
  *    MinHash duplicate cluster keep the LONGEST member (ties → lowest
  *    doc_id), the keeper rule large-corpus dedup pipelines use instead
  *    of keep-first when near-dups differ in completeness. Same
  *    band-join + connected-components machinery as dedup_minhash_keep;
  *    the only new cost is one window over cluster members (duplicate
  *    docs only, never the full corpus).
  *  - `tokenizer_fertility`: BPE-vs-whitespace tokens-per-word by source
  *    — the fertility metric used to compare tokenizers on a corpus.
  *    Narrow per-doc projection + one tiny per-source aggregate; exact
  *    integer milli-units.
  */
object Queries17 extends QuerySet {
  /** Punctuation/contraction/decimal text the BPE-ish regex splits finer
    * than whitespace does (shared verbatim with the SQL twin). */
  private val FertilitySuffix =
    " state-of-the-art, don't stop: 3.14 (v2)!"

  val defs: Map[String, Q] = Map(
    "ann_recall" -> { (sp, dir) =>
      val ivf = Queries3.defs("ann_ivf")(sp, dir).select(col("qid"), col("nid"))
      val withNorm = Tables.embeddings(sp, dir)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("nrm", SimF.norm(col("v")))
      val q = broadcast(withNorm
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn")))
      // ground truth: same cos arithmetic and (cos desc, nid) tiebreak as
      // the IVF side, but over every cell
      val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      val truth = withNorm
        .select(col("vec_id").as("nid"), col("v").as("nv"), col("nrm").as("nn"))
        .crossJoin(q)
        .filter(col("nid") =!= col("qid"))
        .withColumn("cos", SimF.dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 3)
        .select(col("qid"), col("nid"))
      val hits = truth.join(ivf, Seq("qid", "nid"))
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
      truth.groupBy(col("qid")).agg(count(lit(1)).as("n_truth"))
        .join(hits, Seq("qid"), "left")
        .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
        .select(col("qid"), col("n_truth"), col("n_hit"),
          expr("n_hit * 1000 div n_truth").as("recall_milli"))
        .orderBy("qid")
    },

    "dedup_keep_longest" -> { (sp, dir) =>
      val pairs = Queries6.minhashPairs(sp, dir)
      val comp = graft.operators.ConnectedComponents.run(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      val members = Tables.documents(sp, dir)
        .select(col("doc_id"), length(col("text")).cast("bigint").as("text_len"))
        .join(comp.select(col("id").as("doc_id"), col("comp").as("component")), Seq("doc_id"))
      val wKeep = Window.partitionBy("component")
        .orderBy(col("text_len").desc, col("doc_id"))
      members
        .withColumn("rk", row_number().over(wKeep))
        .withColumn("n_docs", count(lit(1)).over(Window.partitionBy("component")))
        .filter(col("rk") === 1)
        .select(col("component"), col("doc_id"), col("n_docs"), col("text_len"))
        .orderBy("component")
    },

    "tokenizer_fertility" -> { (sp, dir) =>
      // planted punctuation-heavy suffix: the all-lowercase synth corpus
      // otherwise tokenizes identically under both schemes (fertility
      // exactly 1.0 everywhere — the metric would demonstrate nothing)
      val planted = when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(FertilitySuffix))).otherwise(col("text"))
      Tables.documents(sp, dir)
        .select(col("source"),
          TextF.bpeTokenCount(planted).cast("bigint").as("bpe"),
          TextF.tokenCount(planted).cast("bigint").as("ws"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("bpe")).as("sum_bpe"),
          sum(col("ws")).as("sum_ws"))
        .select(col("source"), col("n_docs"), col("sum_bpe"), col("sum_ws"),
          expr("sum_bpe * 1000 div sum_ws").as("fertility_milli"))
        .orderBy("source")
    }
  )

  // ---- DuckDB twins ------------------------------------------------------

  private val normSql = TextF.NormalizeTextSql
  private val toksSql = TextF.TokensSql

  val oracles: Map[String, String] = Map(
    "ann_recall" -> {
      def dot(a: String, b: String) = Queries3.dotSqlShared(a, b)
      s"""WITH base AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |), q AS (
         |  SELECT vec_id AS qid, v AS qv, sqrt(${dot("v", "v")}) AS qn
         |  FROM base WHERE vec_id < 5
         |), truth AS (
         |  SELECT qid, nid FROM (
         |    SELECT q.qid, b.vec_id AS nid,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY ${dot("q.qv", "b.v")} / (q.qn * sqrt(${dot("b.v", "b.v")})) DESC,
         |                 b.vec_id) AS rk
         |    FROM base b CROSS JOIN q
         |    WHERE b.vec_id <> q.qid) t
         |  WHERE rk <= 3
         |), ivf AS (
         |  SELECT qid, nid FROM (${Queries3.oracles("ann_ivf")}) iv
         |)
         |SELECT t.qid,
         |  CAST(count(*) AS BIGINT) AS n_truth,
         |  CAST(count(i.nid) AS BIGINT) AS n_hit,
         |  (CAST(count(i.nid) AS BIGINT) * 1000) // CAST(count(*) AS BIGINT) AS recall_milli
         |FROM truth t LEFT JOIN ivf i ON t.qid = i.qid AND t.nid = i.nid
         |GROUP BY t.qid ORDER BY t.qid""".stripMargin
    },

    "dedup_keep_longest" -> {
      def comp(seed: Int) = s"list_min(list_transform(sh, s -> md5(concat('$seed:', s))))"
      def shinglesSql(k: Int) = {
        val parts = (0 until k).map(j => s"list_extract(w, i + $j)").mkString(", ' ', ")
        s"list_transform(range(1, len(w) - ${k - 2}), i -> concat($parts))"
      }
      s"""WITH RECURSIVE sigs AS (
         |  SELECT doc_id,
         |    md5(concat(coalesce(c0, ''), coalesce(c1, ''))) AS band0,
         |    md5(concat(coalesce(c2, ''), coalesce(c3, ''))) AS band1
         |  FROM (
         |    SELECT doc_id, ${comp(0)} AS c0, ${comp(1)} AS c1, ${comp(2)} AS c2, ${comp(3)} AS c3
         |    FROM (SELECT doc_id, list_distinct(${shinglesSql(3)}) AS sh
         |          FROM (SELECT doc_id, $toksSql AS w FROM documents) t1) t2
         |  ) t3
         |),
         |pairs AS (
         |  SELECT DISTINCT id_a, id_b FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |    FROM sigs a JOIN sigs b ON a.band0 = b.band0 AND a.doc_id < b.doc_id
         |    UNION ALL
         |    SELECT a.doc_id, b.doc_id
         |    FROM sigs a JOIN sigs b ON a.band1 = b.band1 AND a.doc_id < b.doc_id
         |  ) u
         |),
         |edges AS (
         |  SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |),
         |reach(id, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.id
         |),
         |members AS (
         |  SELECT min(r) AS component, id AS doc_id FROM reach GROUP BY id
         |),
         |sized AS (
         |  SELECT m.component, m.doc_id,
         |    CAST(length(d.text) AS BIGINT) AS text_len,
         |    CAST(count(*) OVER (PARTITION BY m.component) AS BIGINT) AS n_docs,
         |    row_number() OVER (PARTITION BY m.component
         |                       ORDER BY length(d.text) DESC, m.doc_id) AS rk
         |  FROM members m JOIN documents d ON d.doc_id = m.doc_id
         |)
         |SELECT component, doc_id, n_docs, text_len
         |FROM sized WHERE rk = 1 ORDER BY component""".stripMargin
    },

    "tokenizer_fertility" -> {
      val pat = TextF.BpeTokenPattern.replace("'", "''")
      val sfx = FertilitySuffix.replace("'", "''")
      s"""WITH planted AS (
         |  SELECT source,
         |    CASE WHEN doc_id % 5 = 0 THEN concat(text, '$sfx') ELSE text END AS text
         |  FROM documents
         |)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(regexp_extract_all(text, '$pat'))) AS BIGINT) AS sum_bpe,
         |  CAST(sum(CASE WHEN $normSql = '' THEN 0 ELSE len($toksSql) END) AS BIGINT) AS sum_ws,
         |  CAST(sum(len(regexp_extract_all(text, '$pat'))) AS BIGINT) * 1000
         |    // CAST(sum(CASE WHEN $normSql = '' THEN 0 ELSE len($toksSql) END) AS BIGINT) AS fertility_milli
         |FROM planted GROUP BY source ORDER BY source""".stripMargin
    }
  )
}
