package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-8 continuation #33 — dedup provenance and tokenizer sizing:
  *
  *  - `dedup_provenance`: the "why was my document dropped" report — every
  *    dropped doc with its reason tier (`exact` fingerprint duplicate
  *    beats `near` MinHash-cluster membership, mirroring
  *    corpus_pipeline's gate order) and the keeper that replaced it.
  *    Reuses the production relations verbatim: the fingerprint window of
  *    `dedup_keep_first` and the band-join + connected-components closure
  *    of `dedup_minhash_keep` (shared `MinhashPairsCteSql` on the oracle
  *    side), so provenance can never disagree with the dedup it explains.
  *  - `vocab_coverage_curve`: token-occurrence coverage of a top-K
  *    vocabulary for K ∈ {8, 16, 32} — the curve that sizes a tokenizer's
  *    vocab (the marginal-coverage knee). Corpus-mass work is the one
  *    (word, count) aggregation; the top-max(K) ranking is a distributed
  *    TakeOrdered (`vocab_count`'s shape) and the curve itself is a
  *    3-row aggregate.
  */
object Queries61 extends QuerySet {
  private val CoverageKs = Seq(8, 16, 32)

  val defs: Map[String, Q] = Map(
    "dedup_provenance" -> { (sp, dir) =>
      val docs = Tables.documents(sp, dir)
      val wFp = Window.partitionBy(TextF.docFingerprint(col("text")))
      val exact = docs
        .withColumn("keeper_id", min("doc_id").over(wFp))
        .withColumn("rk", row_number().over(wFp.orderBy("doc_id")))
        .filter(col("rk") > 1)
        .select(col("doc_id"), lit("exact").as("reason"), col("keeper_id"))
      val pairs = Queries6.minhashPairs(sp, dir)
      val comp = graft.operators.ConnectedComponents.run(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      val near = comp.filter(col("id") =!= col("comp"))
        .select(col("id").as("doc_id"), lit("near").as("reason"),
          col("comp").as("keeper_id"))
        .join(exact.select("doc_id"), Seq("doc_id"), "left_anti")
      exact.unionAll(near).orderBy("doc_id")
    },

    "vocab_coverage_curve" -> { (sp, dir) =>
      val counts = Tables.documents(sp, dir)
        .select(explode(TextF.tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("cnt"))
      val totals = counts.agg(sum("cnt").as("total_occ"),
        count(lit(1)).as("n_vocab"))
      val top = counts.orderBy(col("cnt").desc, col("w")).limit(CoverageKs.max)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("w"))))
      val curve = CoverageKs.map { k =>
        top.filter(col("rank") <= k)
          .agg(sum("cnt").as("covered_occurrences"))
          .select(lit(k.toLong).as("k"), col("covered_occurrences"))
      }.reduce(_ unionAll _)
      curve.crossJoin(broadcast(totals))
        .select(col("k"), col("n_vocab"), col("covered_occurrences"),
          expr("covered_occurrences * 1000 div total_occ").as("coverage_milli"))
        .orderBy("k")
    }
  )

  val oracles: Map[String, String] = Map(
    "dedup_provenance" ->
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
         |cluster_min AS (
         |  SELECT id, min(r) AS cmin FROM reach GROUP BY id
         |),
         |fps AS (
         |  SELECT doc_id, md5(${TextF.NormalizeTextSql}) AS fp FROM documents
         |),
         |exact_ranked AS (
         |  SELECT doc_id,
         |    min(doc_id) OVER (PARTITION BY fp) AS keeper_id,
         |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
         |  FROM fps
         |),
         |exact_drop AS (
         |  SELECT doc_id, 'exact' AS reason, keeper_id FROM exact_ranked WHERE rk > 1
         |),
         |near_drop AS (
         |  SELECT id AS doc_id, 'near' AS reason, cmin AS keeper_id
         |  FROM cluster_min
         |  WHERE id <> cmin AND id NOT IN (SELECT doc_id FROM exact_drop)
         |)
         |SELECT * FROM exact_drop
         |UNION ALL
         |SELECT * FROM near_drop
         |ORDER BY doc_id""".stripMargin,

    "vocab_coverage_curve" -> {
      val ks = CoverageKs.mkString(", ")
      s"""WITH counts AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(${TextF.TokensSql}) AS w FROM documents) t
         |  WHERE w <> '' GROUP BY w
         |),
         |totals AS (
         |  SELECT CAST(sum(cnt) AS BIGINT) AS total_occ,
         |    CAST(count(*) AS BIGINT) AS n_vocab
         |  FROM counts
         |),
         |ranked AS (
         |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rank FROM counts
         |)
         |SELECT CAST(k AS BIGINT) AS k, t.n_vocab,
         |  (SELECT CAST(sum(cnt) AS BIGINT) FROM ranked WHERE rank <= k)
         |    AS covered_occurrences,
         |  (SELECT CAST(sum(cnt) * 1000 // t.total_occ AS BIGINT)
         |   FROM ranked WHERE rank <= k) AS coverage_milli
         |FROM (SELECT unnest([$ks]) AS k) ks, totals t
         |ORDER BY k""".stripMargin
    }
  )
}
