package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.PairEngine

/** Round-9 batch #44 — `containment_dedup`: near-SUBSET detection. The
  * Jaccard gate misses quote/snippet duplication by construction: a 100-
  * shingle doc fully embedded in a 2000-shingle doc scores J ≈ 48‰ —
  * far below any dedup threshold — yet 100% of the smaller doc is
  * redundant. Broder's containment C(A,B) = |A∩B|/|A| is the asymmetric
  * fix. Candidates come from `operators/PairEngine.shared` (the
  * shared-CTE oracle composes it verbatim), with BOTH directions
  * reported in permille and pairs kept when either side is ≥ 800 —
  * the "one of these is inside the other" list `dedup_keep_longest`
  * should absorb. */
object Queries124 extends QuerySet {
  private[queries] val ContainmentGate = 800L

  val defs: Map[String, Q] = Map(
    "containment_dedup" -> { (sp, dir) =>
      PairEngine.shared(LlmQueries.shingleDocs(sp, dir))
        .withColumn("cont_a_permille",
          round(lit(1000.0) * col("shared") / col("n_a")).cast("bigint"))
        .withColumn("cont_b_permille",
          round(lit(1000.0) * col("shared") / col("n_b")).cast("bigint"))
        .filter(col("cont_a_permille") >= ContainmentGate
          || col("cont_b_permille") >= ContainmentGate)
        .select(col("id_a"), col("id_b"), col("shared"),
          col("cont_a_permille"), col("cont_b_permille"))
        .orderBy("id_a", "id_b")
    }
  )

  val oracles: Map[String, String] = Map(
    "containment_dedup" ->
      s"""WITH ${LlmQueries.JaccardSharedCteSql}
         |SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
         |  CAST(round(1000.0 * shared / sa.n) AS BIGINT) AS cont_a_permille,
         |  CAST(round(1000.0 * shared / sb.n) AS BIGINT) AS cont_b_permille
         |FROM shared
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE CAST(round(1000.0 * shared / sa.n) AS BIGINT) >= $ContainmentGate
         |   OR CAST(round(1000.0 * shared / sb.n) AS BIGINT) >= $ContainmentGate
         |ORDER BY id_a, id_b""".stripMargin
  )
}
