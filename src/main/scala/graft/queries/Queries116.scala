package graft.queries

import org.apache.spark.sql.functions._

/** Round-9 batch #36 — using the trained component + BFS on the dup graph:
  *
  *  - `pca_project_outliers`: the 10 most extreme vectors along the
  *    trained principal direction — |q·v| over the e3 eigvec from
  *    `pca_power_iter` (exact integer dot; the component broadcast as a
  *    literal, the projection a narrow codegen'd scan + distributed
  *    top-k). The "apply the model" step that makes the PCA trainer
  *    useful: embedding-space outliers along the axis of maximum
  *    variance, complementing `embedding_outliers`' cluster-cosine read.
  *  - `bfs_hops`: breadth-first hop distances from the minimum doc_id
  *    over the MinHash dup graph, a fixed 4 rounds — how much of a
  *    duplicate neighborhood is reachable in k hops (the transitive-hull
  *    growth rate that says whether `dedup_cluster`'s closure is shallow
  *    star-shapes or long chains). Frontier expansion is one
  *    join + distinct + anti-join per round with eager localCheckpoint
  *    (the ConnectedComponents idiom); the DuckDB twin unrolls the same
  *    4 frontiers as MATERIALIZED CTEs. Output: nodes per hop distance,
  *    plus the unreached remainder at dist = -1.
  */
object Queries116 extends QuerySet {
  private[queries] val BfsRounds = 4
  private[queries] val TopOutliers = 10

  val defs: Map[String, Q] = Map(
    "pca_project_outliers" -> { (sp, dir) =>
      val v = Queries115.powerEigvec(sp, dir)
      val proj = aggregate(
        zip_with(col("q"), typedLit(v.toSeq), (x, y) => x * y), lit(0L), (a, x) => a + x)
      Queries115.quantized(sp, dir)
        .select(col("vec_id"), proj.as("proj_q"))
        .orderBy(abs(col("proj_q")).desc, col("vec_id")).limit(TopOutliers)
        .orderBy(abs(col("proj_q")).desc, col("vec_id"))
    },

    "bfs_hops" -> { (sp, dir) =>
      // r16: size-gated — below the CC gate the 4 BFS rounds (join +
      // distinct + anti-join + 2 checkpoints each) run as one bounded
      // collect + driver loop; above it the distributed loop is unchanged
      // (GraphCounts; per-round 0-count rows still emitted to match the
      // oracle's unroll)
      graft.operators.GraphCounts.bfsHops(Queries6.minhashPairs(sp, dir), BfsRounds)
    }
  )

  private val bfsOracle: String = {
    val rounds = (1 to BfsRounds).map { r =>
      val prevVis = if (r == 1) "v0" else s"vis${r - 1}"
      val prevFront = if (r == 1) "v0" else s"f${r - 1}"
      s"""f$r AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS node FROM symedges e
         |  JOIN $prevFront p ON p.node = e.src
         |  WHERE e.dst NOT IN (SELECT node FROM $prevVis)
         |),
         |vis$r AS MATERIALIZED (
         |  SELECT node FROM $prevVis UNION SELECT node FROM f$r
         |)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to BfsRounds).map { r =>
      s"SELECT CAST($r AS BIGINT) AS dist, CAST((SELECT count(*) FROM f$r) AS BIGINT) AS n_nodes"
    }.mkString("\nUNION ALL\n")
    s"""WITH ${Queries6.MinhashPairsCteSql},
       |symedges AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs
       |),
       |v0 AS MATERIALIZED (SELECT min(id_a) AS node FROM pairs),
       |$rounds
       |SELECT CAST(-1 AS BIGINT) AS dist,
       |  CAST((SELECT count(DISTINCT src) FROM symedges)
       |     - (SELECT count(*) FROM vis$BfsRounds) AS BIGINT) AS n_nodes
       |UNION ALL
       |SELECT CAST(0 AS BIGINT) AS dist, CAST(1 AS BIGINT) AS n_nodes
       |UNION ALL
       |$sel
       |ORDER BY dist""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "pca_project_outliers" ->
      s"""WITH ${Queries115.PcaCteSql},
         |proj AS (
         |  SELECT q.vec_id, CAST(sum(q.q[v.i + 1] * v.v) AS BIGINT) AS proj_q
         |  FROM q CROSS JOIN v${Queries115.PowerIters} v
         |  GROUP BY q.vec_id
         |)
         |SELECT vec_id, proj_q FROM proj
         |ORDER BY abs(proj_q) DESC, vec_id LIMIT $TopOutliers""".stripMargin,

    "bfs_hops" -> bfsOracle
  )
}
