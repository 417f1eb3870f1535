package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.PairEngine

/** Round-9 batch #59 — percolation + heavy tails:
  *
  *  - `giant_component_sweep`: the percolation read of dedup
  *    aggressiveness — at Jaccard gates 200/400/600/800‰, how big is
  *    the LARGEST connected component of the near-dup graph? Loose
  *    gates percolate: one giant cluster swallows the corpus and the
  *    keeper policy deletes half of it; the sweep shows exactly where
  *    that transition sits. Four CC runs over shrinking edge sets
  *    (each O(log diameter) rounds) over `operators/PairEngine.jaccard`
  *    pairs; the DuckDB twin unrolls four recursive reaches over the
  *    shared df-capped pair CTE.
  *  - `tail_index_fit`: how heavy is the purchase-value tail — the
  *    Hill estimator over the top-64 order statistics, in the repo's
  *    exact ⌊log₂⌋ quantization: α̂ = k / Σ log₂(xᵢ/x_k) bits. α ≤ 2
  *    means infinite variance (whale-dominated revenue); the exact
  *    integer spelling makes the estimate oracle-stable. One
  *    distributed top-(k+1) + a 65-row fold. */
object Queries139 extends QuerySet {
  private val Gates = Seq(200L, 400L, 600L, 800L)
  private val HillK = 64

  val defs: Map[String, Q] = Map(
    "giant_component_sweep" -> { (sp, dir) =>
      // the smallest gate equals PairEngine.MinJaccardPermille, so every
      // gate's edge set is a filter over the engine's pairs
      val pairs = graft.util.CacheScope.track(
        PairEngine.jaccard(LlmQueries.shingleDocs(sp, dir))
          .select(col("id_a"), col("id_b"), col("jac_permille")))
      pairs.count()
      // the four gate-filtered CC runs are independent given the shared
      // pair cache — overlap them (guide §2.6) so one run's iterative
      // stage tails back-fill the cores another frees; results are
      // per-gate and order-preserved, so output is unchanged
      val rows = graft.util.Par.run(Gates.map { t => () =>
        val edges = pairs.filter(col("jac_permille") >= t)
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        val labels = graft.operators.ConnectedComponents.run(edges)
        val comp = labels.groupBy("comp").agg(count(lit(1)).as("sz"))
        val nE = edges.count()
        val stats = comp.agg(coalesce(sum("sz"), lit(0L)).as("n_nodes"),
          coalesce(max("sz"), lit(0L)).as("giant"))
        stats.select(lit(t).as("gate_permille"), lit(nE).as("n_edges"),
          col("n_nodes"), col("giant"),
          expr("CASE WHEN n_nodes = 0 THEN 0 ELSE giant * 1000 div n_nodes END")
            .as("giant_milli"))
      })
      rows.reduce(_ unionAll _).orderBy("gate_permille")
    },

    "tail_index_fit" -> { (sp, dir) =>
      val top = Tables.events(sp, dir)
        .filter(col("event_type") === "purchase")
        .select(round(col("value") * 100).cast("bigint").as("cents"), col("event_id"))
        .filter(col("cents") > 0)
        .orderBy(col("cents").desc, col("event_id"))
        .limit(HillK + 1)
        .withColumn("bits", (length(bin(col("cents"))) - 1).cast("long"))
      val xk = top.agg(min("cents").as("x_k_cents"), min("bits").as("bits_k"))
      top.crossJoin(broadcast(xk))
        .filter(col("cents") > col("x_k_cents")
          || (col("cents") === col("x_k_cents") && col("bits") > col("bits_k")))
        .agg(count(lit(1)).as("k_used"),
          sum(col("bits") - col("bits_k")).as("sum_excess_bits"),
          max("x_k_cents").as("x_k_cents"))
        .select(lit(HillK.toLong).as("k"), col("x_k_cents"), col("sum_excess_bits"),
          expr("CASE WHEN sum_excess_bits = 0 THEN 0 " +
            s"ELSE ${HillK * 1000} div sum_excess_bits END").as("alpha_milli"))
    }
  )

  val oracles: Map[String, String] = {
    val sweepCases = Gates.map { t =>
      s"""edges$t AS (
         |  SELECT id_a AS s, id_b AS d FROM gated WHERE jac >= $t
         |  UNION SELECT id_b, id_a FROM gated WHERE jac >= $t
         |),
         |reach$t(id, r) AS (
         |  SELECT s, s FROM edges$t
         |  UNION
         |  SELECT e.s, reach$t.r FROM edges$t e JOIN reach$t ON e.d = reach$t.id
         |),
         |comp$t AS (
         |  SELECT min(r) AS c, id FROM reach$t GROUP BY id
         |),
         |row$t AS (
         |  SELECT CAST($t AS BIGINT) AS gate_permille,
         |    (SELECT CAST(count(*) AS BIGINT) FROM gated WHERE jac >= $t) AS n_edges,
         |    CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_nodes,
         |    CAST(coalesce(max(sz), 0) AS BIGINT) AS giant
         |  FROM (SELECT c, count(*) AS sz FROM comp$t GROUP BY c) z
         |)""".stripMargin
    }.mkString(",\n")
    Map(
      "giant_component_sweep" ->
        s"""WITH RECURSIVE ${LlmQueries.JaccardSharedCteSql},
           |gated AS (
           |  SELECT id_a, id_b,
           |    CAST(round(1000.0 * shared / (sa.n + sb.n - shared)) AS BIGINT) AS jac
           |  FROM shared
           |  JOIN sizes sa ON sa.doc_id = id_a
           |  JOIN sizes sb ON sb.doc_id = id_b
           |),
           |$sweepCases
           |SELECT gate_permille, n_edges,
           |  CASE WHEN n_edges = 0 THEN 0 ELSE n_nodes END AS n_nodes,
           |  CASE WHEN n_edges = 0 THEN 0 ELSE giant END AS giant,
           |  CAST(CASE WHEN n_edges = 0 OR n_nodes = 0 THEN 0
           |       ELSE giant * 1000 // n_nodes END AS BIGINT) AS giant_milli
           |FROM (${Gates.map(t => s"SELECT * FROM row$t").mkString(" UNION ALL ")}) u
           |ORDER BY gate_permille""".stripMargin,

      "tail_index_fit" ->
        s"""WITH top AS (
           |  SELECT cents, length(bin(cents)) - 1 AS bits
           |  FROM (
           |    SELECT CAST(round(value * 100) AS BIGINT) AS cents, event_id
           |    FROM events WHERE event_type = 'purchase'
           |      AND CAST(round(value * 100) AS BIGINT) > 0
           |    ORDER BY cents DESC, event_id LIMIT ${HillK + 1}) t
           |),
           |xk AS (SELECT min(cents) AS x_k_cents, min(bits) AS bits_k FROM top),
           |ex AS (
           |  SELECT count(*) AS k_used,
           |    CAST(sum(t.bits - xk.bits_k) AS BIGINT) AS sum_excess_bits,
           |    max(xk.x_k_cents) AS x_k_cents
           |  FROM top t, xk
           |  WHERE t.cents > xk.x_k_cents
           |     OR (t.cents = xk.x_k_cents AND t.bits > xk.bits_k)
           |)
           |SELECT CAST($HillK AS BIGINT) AS k, x_k_cents, sum_excess_bits,
           |  CAST(CASE WHEN sum_excess_bits = 0 THEN 0
           |       ELSE ${HillK * 1000} // sum_excess_bits END AS BIGINT) AS alpha_milli
           |FROM ex""".stripMargin
    )
  }
}
