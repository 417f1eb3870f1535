package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 flagship composition: `corpus_pipeline`, the corpus-side twin of
  * `enrich_pipeline` — the END-TO-END shipped training dataset in one plan:
  *
  *   1. exact-dedup keeper (fingerprint window — the one dedup shuffle),
  *   2. quality + language gates (narrow codegen'd filters),
  *   3. MinHash near-dup cluster representative (band join → connected
  *      components → min-doc keep),
  *   4. benchmark decontamination (broadcast bench shingles; any-overlap
  *      docs dropped) and the bench slice itself withheld.
  *
  * Every stage reuses the EXACT shared fragment its standalone operator
  * runs (corpusGated, minhashPairs, contaminatedDocs — and their oracle
  * CTEs), so the pipeline cannot drift from the operators it composes.
  * Stage order at 100 TB: the gates and exact-dedup run first (linear,
  * narrow) so the quadratic-prone band join only sees survivors — the
  * composition SURVEY §5 prescribes. Near-dup clusters are computed
  * corpus-wide (as dedup_minhash_keep does): an exact-dup group shares
  * every band, so its cluster minimum IS the exact keeper — the two
  * keeper rules agree by construction.
  */
object Queries24 extends QuerySet {
  /** Stages 3-4 (near-dup representative keep + decontamination) over an
    * already-gated corpus — factored so pipeline_manifest can feed ONE
    * cached `gated` table to both its stage-2 manifest row and this
    * shipped relation instead of re-running the gate lineage (r16). */
  private[queries] def shippedFrom(gated: DataFrame, sp: SparkSession, dir: String): DataFrame = {
    val pairs = Queries6.minhashPairs(sp, dir)
    val comp = graft.operators.ConnectedComponents.run(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    gated
      .join(comp.select(col("id").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .filter(col("comp").isNull || col("comp") === col("doc_id"))
      .filter(col("doc_id") % Queries10.BenchMod =!= Queries10.BenchRem)
      .join(Queries10.contaminatedDocs(sp, dir), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens"))
      .orderBy("doc_id")
  }

  val defs: Map[String, Q] = Map(
    "corpus_pipeline" -> { (sp, dir) =>
      shippedFrom(Queries10.corpusGated(sp, dir), sp, dir)
    }
  )

  /** The full pipeline CTE chain (needs a `WITH RECURSIVE` prefix) and the
    * shipped-corpus SELECT over it — factored so the reproducibility
    * manifest (pipeline_manifest) reuses the EXACT shipped relation. */
  private[queries] val PipelineCtesSql: String =
    s"""${Queries6.MinhashPairsCteSql},
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
       |gated AS (
       |${Queries10.CorpusGatedSql}
       |),
       |${Queries10.ContaminatedCteSql}""".stripMargin

  private[queries] val ShippedSelectSql: String =
    s"""SELECT g.doc_id, g.n_tokens
       |FROM gated g
       |LEFT JOIN cluster_min cm ON g.doc_id = cm.id
       |WHERE (cm.id IS NULL OR g.doc_id = cm.cmin)
       |  AND g.doc_id % ${Queries10.BenchMod} <> ${Queries10.BenchRem}
       |  AND NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = g.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "corpus_pipeline" ->
      s"""WITH RECURSIVE $PipelineCtesSql
         |$ShippedSelectSql
         |ORDER BY g.doc_id""".stripMargin
  )
}
