package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.KMeans

/** Round-9 batch #24 — the fourth keeper policy and the IVF load profile:
  *
  *  - `dedup_keep_quality`: the keeper rule production corpora actually
  *    ship — per MinHash duplicate cluster keep the member with the
  *    HIGHEST `quality_classifier` score (ties → lowest doc_id). Same
  *    band-join + connected-components machinery as keep_first/longest/
  *    central; the score is the classifier's own shared spelling
  *    (`Queries15.qualityScore`), so "keep the best" here means exactly
  *    what the shipped filter means by "best".
  *  - `ivf_balance_audit`: cell-occupancy profile of the trained IVF
  *    quantizer (`KMeans.fitMicro`, the ann_nprobe_curve index) — per
  *    cell: vectors, corpus share, and the load factor vs perfect
  *    balance (1000 = even). Cell skew IS tail latency at 100 TB: a hot
  *    cell is a hot partition every nprobe-probe pays for. One narrow
  *    assignment projection + a k-row aggregate.
  */
object Queries104 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "dedup_keep_quality" -> { (sp, dir) =>
      val pairs = Queries6.minhashPairs(sp, dir)
      val comp = graft.operators.ConnectedComponents.run(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      // r16: join FIRST, score after — the inner join keeps only cluster
      // members (a tiny fraction of the corpus), so computing the hashed
      // quality score before the join paid a full-corpus scoring pass for
      // rows that were immediately dropped (guide §1.2: don't compute
      // things you throw away). Same rows, same scores.
      val members = Tables.documents(sp, dir)
        .join(comp.select(col("id").as("doc_id"), col("comp").as("component")), Seq("doc_id"))
        .select(col("doc_id"), Queries15.qualityScore(col("text")).as("score_milli"),
          col("component"))
      val wKeep = Window.partitionBy("component")
        .orderBy(col("score_milli").desc, col("doc_id"))
      members
        .withColumn("rk", row_number().over(wKeep))
        .withColumn("n_docs", count(lit(1)).over(Window.partitionBy("component")))
        .filter(col("rk") === 1)
        .select(col("component"), col("doc_id"), col("n_docs"), col("score_milli"))
        .orderBy("component")
    },

    "ivf_balance_audit" -> { (sp, dir) =>
      val embT = Tables.embeddings(sp, dir)
      val cents = KMeans.fitMicro(embT, "embedding", "vec_id", k = 8, maxIter = 3)
      val cells = embT
        .select(KMeans.assignCellMicro(
          KMeans.quantizeMicro(col("embedding")), cents).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("n_vectors"))
      val tot = cells.agg(sum("n_vectors").as("total"), count(lit(1)).as("k"))
      cells.crossJoin(broadcast(tot))
        .select(col("cell"), col("n_vectors"),
          expr("n_vectors * 1000 div total").as("share_milli"),
          expr("n_vectors * k * 1000 div total").as("load_milli"))
        .orderBy("cell")
    }
  )

  val oracles: Map[String, String] = Map(
    "dedup_keep_quality" ->
      s"""WITH RECURSIVE ${Queries6.MinhashPairsCteSql},
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
         |scored AS (
         |  SELECT m.component, m.doc_id,
         |    ${Queries15.qualityScoreSql} AS score_milli,
         |    CAST(count(*) OVER (PARTITION BY m.component) AS BIGINT) AS n_docs
         |  FROM members m JOIN documents d ON d.doc_id = m.doc_id
         |),
         |ranked AS (
         |  SELECT component, doc_id, n_docs, score_milli,
         |    row_number() OVER (PARTITION BY component
         |                       ORDER BY score_milli DESC, doc_id) AS rk
         |  FROM scored
         |)
         |SELECT component, doc_id, n_docs, score_milli
         |FROM ranked WHERE rk = 1 ORDER BY component""".stripMargin,

    "ivf_balance_audit" ->
      s"""WITH ${Queries86.TrainedIvfCteSql},
         |h AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors FROM assign GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(n_vectors) AS BIGINT) AS total,
         |    CAST(count(*) AS BIGINT) AS k
         |  FROM h
         |)
         |SELECT h.cell, h.n_vectors,
         |  CAST(h.n_vectors * 1000 // t.total AS BIGINT) AS share_milli,
         |  CAST(h.n_vectors * t.k * 1000 // t.total AS BIGINT) AS load_milli
         |FROM h, tot t ORDER BY h.cell""".stripMargin
  )
}
