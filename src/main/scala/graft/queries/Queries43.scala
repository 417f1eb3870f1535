package graft.queries

import org.apache.spark.sql.functions._

/** Round-8 continuation #15 — `dedup_cluster_incremental`: connected
  * components maintained INCREMENTALLY across an ingest boundary: the
  * shipped corpus's near-dup clusters (doc_id < 400, already labeled) are
  * CONTRACTED to their label nodes, only the new batch's edges run label
  * propagation, and the composed labeling provably equals a from-scratch
  * clustering of the full graph — which IS the oracle (the recursive-CTE
  * closure over ALL pairs). Min-labels make contraction sound: an old
  * component's label is its minimum member id, so the contracted graph's
  * minimum equals the full graph's minimum.
  *
  * This is the 100 TB shape for recurring dedup: the daily job propagates
  * labels over |batch edges| + |touched clusters|, never re-walking the
  * shipped corpus's edge set.
  */
object Queries43 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "dedup_cluster_incremental" -> { (sp, dir) =>
      val pairs = graft.util.CacheScope.track(Queries6.minhashPairs(sp, dir))
      pairs.count() // the old/new split scans it twice
      val oldEdges = pairs.filter(col("id_a") < 400 && col("id_b") < 400)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val newEdges = pairs.filter(col("id_a") >= 400 || col("id_b") >= 400)
      // yesterday's labels (in production: read back from the label store)
      val oldLabels = graft.util.CacheScope.track(
        graft.operators.ConnectedComponents.run(oldEdges))
      oldLabels.count()
      // contract: rewrite each new edge endpoint to its old label (if any)
      def rep(side: String) = {
        val l = oldLabels.select(col("id").as(side), col("comp").as(s"rep_$side"))
        l
      }
      val contracted = newEdges
        .join(rep("id_a"), Seq("id_a"), "left")
        .join(rep("id_b"), Seq("id_b"), "left")
        .select(coalesce(col("rep_id_a"), col("id_a")).as("src"),
          coalesce(col("rep_id_b"), col("id_b")).as("dst"))
      val newLabels = graft.operators.ConnectedComponents.run(contracted)
        .select(col("id").as("rep"), col("comp").as("new_comp"))
      // compose: old members follow their label node; batch-only nodes are
      // their own rep
      val oldFinal = oldLabels
        .join(newLabels, oldLabels("comp") === newLabels("rep"), "left")
        .select(col("id").as("doc_id"),
          coalesce(col("new_comp"), col("comp")).as("component"))
      val batchFinal = newEdges
        .select(col("id_a").as("doc_id")).unionAll(newEdges.select(col("id_b")))
        .distinct()
        .join(oldLabels.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
        .join(newLabels.withColumnRenamed("rep", "doc_id"), Seq("doc_id"))
        .select(col("doc_id"), col("new_comp").as("component"))
      oldFinal.unionAll(batchFinal).orderBy("doc_id")
    }
  )

  val oracles: Map[String, String] = Map(
    // the oracle is the FROM-SCRATCH clustering — incremental == full is
    // the identity under test
    "dedup_cluster_incremental" ->
      s"""WITH RECURSIVE ${Queries6.MinhashPairsCteSql},
         |edges AS (
         |  SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |),
         |reach(id, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.id
         |)
         |SELECT id AS doc_id, min(r) AS component
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin
  )
}
