package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.IntIdioms.bits

/** Round-9 batch #31 — graph degeneracy + two information/DQ audits:
  *
  *  - `kcore_decomposition`: iterative k-core peeling (k = 2, a fixed 6
  *    rounds) of the MinHash duplicate graph — the standard degeneracy
  *    read of how much of the dup topology is tree-like fringe (pruned by
  *    peeling) vs densely interconnected core (what `triangle_count`
  *    measures locally). Each round drops nodes of degree < k and the
  *    edges they carried, exactly like the batch half of Matula-Beck;
  *    rounds are the same O(log) shape as ConnectedComponents — one
  *    node-keyed aggregation plus two semi-joins per round, every
  *    intermediate cached once (CacheScope), nothing global. The DuckDB
  *    twin unrolls the identical 6 rounds as chained CTEs, so the result
  *    is oracle-exact whether or not the peel has converged.
  *  - `field_mi`: quantized mutual information between `event_type` and
  *    the 6-hour time-of-day bucket — "is WHEN predictive of WHAT", the
  *    pairwise-dependence companion to `transition_entropy`'s
  *    conditional-entropy read. Pointwise terms c·(⌊log₂(c·N)⌋ −
  *    ⌊log₂(c_x·c_y)⌋) in the repo's bit-length spelling, summed per
  *    event_type; terms can be negative, and Spark `div` and DuckDB's
  *    integer `//` both truncate toward zero. Three key-shrinking
  *    aggregations over a |types|×4 cell table — free at any scale.
  *  - `benford_audit`: leading-digit distribution of order totals (cents)
  *    against the Benford expectation (milli constants ⌊1000·log₁₀(1+1/d)⌋
  *    pinned identically on both engines) — the classic synthetic-data /
  *    fraud screen, here flagging that TPC-H-ish uniform pricing is NOT
  *    Benford (the deviation column is the finding, not a bug).
  */
object Queries111 extends QuerySet {
  private[queries] val KcoreK = 2
  private[queries] val KcoreRounds = 6

  /** Benford milli expectations for digits 1..9: ⌊1000·log₁₀(1 + 1/d)⌋. */
  private[queries] val BenfordMilli = Seq(301L, 176L, 124L, 96L, 79L, 66L, 57L, 51L, 45L)

  val defs: Map[String, Q] = Map(
    "kcore_decomposition" -> { (sp, dir) =>
      // r16: size-gated — below the CC gate the 6 peel rounds (~5 jobs
      // each) run as one bounded collect + driver loop; above it the
      // eager-localCheckpoint distributed loop is unchanged (GraphCounts)
      graft.operators.GraphCounts.kcorePeel(
        Queries6.minhashPairs(sp, dir), KcoreK, KcoreRounds)
    },

    "field_mi" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir).select(col("event_type"),
        expr("((ts_us div 3600000000) % 24) div 6").as("hb"))
      val cells = ev.groupBy("event_type", "hb").agg(count(lit(1)).as("c"))
      val cx = cells.groupBy("event_type").agg(sum("c").as("cx"))
      val cy = cells.groupBy("hb").agg(sum("c").as("cy"))
      val n = cells.agg(sum("c").as("n_total"))
      cells.join(cx, Seq("event_type")).join(cy, Seq("hb")).crossJoin(n)
        .withColumn("term",
          col("c") * (bits(col("c") * col("n_total")) - bits(col("cx") * col("cy"))))
        .groupBy("event_type")
        .agg(max("cx").as("n_x"), sum("term").as("mi_q"), max("n_total").as("n_total"))
        .select(col("event_type"), col("n_x"), col("mi_q"),
          expr("mi_q * 1000 div n_total").as("mi_contrib_milli_bits"))
        .orderBy("event_type")
    },

    "benford_audit" -> { (sp, dir) =>
      val cents = Tables.orders(sp, dir)
        .select(round(col("o_totalprice") * 100).cast("bigint").as("cents"))
        .filter(col("cents") > 0)
      val obs = cents
        .select(substring(col("cents").cast("string"), 1, 1).cast("bigint").as("lead_digit"))
        .groupBy("lead_digit").agg(count(lit(1)).as("n_orders"))
      obs.crossJoin(obs.agg(sum("n_orders").as("n")))
        .withColumn("obs_milli", expr("n_orders * 1000 div n"))
        .withColumn("exp_milli",
          element_at(typedLit(BenfordMilli), col("lead_digit").cast("int")))
        .withColumn("dev_milli", abs(col("obs_milli") - col("exp_milli")))
        .select(col("lead_digit"), col("n_orders"), col("obs_milli"),
          col("exp_milli"), col("dev_milli"))
        .orderBy("lead_digit")
    }
  )

  private val kcoreOracle: String = {
    // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    // round references the previous one three times — unmaterialized, the
    // 6-round unroll expands to 3^6 copies of the banded-minhash scan
    // (measured: "Too many open files" on documents.parquet)
    val rounds = (1 to KcoreRounds).map { r =>
      s"""k$r AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT id_a AS node FROM e${r - 1} UNION ALL SELECT id_b FROM e${r - 1}
         |  ) s GROUP BY node HAVING count(*) >= $KcoreK
         |),
         |e$r AS MATERIALIZED (
         |  SELECT e.id_a, e.id_b FROM e${r - 1} e
         |  JOIN k$r a ON a.node = e.id_a
         |  JOIN k$r b ON b.node = e.id_b
         |)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to KcoreRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS peel_round,
         |  CAST((SELECT count(*) FROM k$r) AS BIGINT) AS survivors,
         |  CAST((SELECT count(*) FROM e$r) AS BIGINT) AS edges_rem""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${Queries6.MinhashPairsCteSql},
       |e0 AS MATERIALIZED (SELECT id_a, id_b FROM pairs),
       |$rounds
       |$sel
       |ORDER BY peel_round""".stripMargin
  }

  private val benfordCase: String =
    "CASE lead_digit " +
      BenfordMilli.zipWithIndex.map { case (v, i) => s"WHEN ${i + 1} THEN $v" }.mkString(" ") +
      " END"

  val oracles: Map[String, String] = Map(
    "kcore_decomposition" -> kcoreOracle,

    "field_mi" ->
      """WITH ev AS (
        |  SELECT event_type, ((epoch_us(ts) // 3600000000) % 24) // 6 AS hb FROM events
        |),
        |cells AS (
        |  SELECT event_type, hb, CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY 1, 2
        |),
        |cx AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
        |cy AS (SELECT hb, CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY 1),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM cells),
        |terms AS (
        |  SELECT cells.event_type,
        |    cells.c * ((length(bin(cells.c * n.n_total)) - 1)
        |             - (length(bin(cx.cx * cy.cy)) - 1)) AS term,
        |    cx.cx, n.n_total
        |  FROM cells
        |  JOIN cx ON cx.event_type = cells.event_type
        |  JOIN cy ON cy.hb = cells.hb
        |  CROSS JOIN n
        |)
        |SELECT event_type, CAST(max(cx) AS BIGINT) AS n_x,
        |  CAST(sum(term) AS BIGINT) AS mi_q,
        |  CAST(sum(term) * 1000 // max(n_total) AS BIGINT) AS mi_contrib_milli_bits
        |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin,

    "benford_audit" ->
      s"""WITH c AS (
         |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
         |  WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0
         |),
         |obs AS (
         |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS lead_digit,
         |    CAST(count(*) AS BIGINT) AS n_orders
         |  FROM c GROUP BY 1
         |),
         |tot AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n FROM obs)
         |SELECT lead_digit, n_orders,
         |  CAST(n_orders * 1000 // n AS BIGINT) AS obs_milli,
         |  CAST($benfordCase AS BIGINT) AS exp_milli,
         |  CAST(abs(n_orders * 1000 // n - $benfordCase) AS BIGINT) AS dev_milli
         |FROM obs CROSS JOIN tot ORDER BY lead_digit""".stripMargin
  )
}
