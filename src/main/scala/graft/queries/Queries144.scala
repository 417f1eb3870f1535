package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #64 — PQ codebook hygiene + same-day ordering:
  *
  *  - `pq_balance_audit`: per-subspace code utilization of the trained
  *    product-quantization codebook — `ivf_balance_audit`'s PQ sibling.
  *    A subspace whose vectors collapse onto few codes wastes its bits
  *    (the effective codebook is smaller than 2⁴) and ADC distances
  *    lose resolution exactly where ann_pq needs them. Codes are
  *    recovered from the fused PqRecon kernel's output by slice
  *    equality against the literal codebook (no 1024-node distance
  *    tree on the Spark side); the DuckDB twin computes codes through
  *    the shared composable spelling — two independent routes to the
  *    same assignment, hash-proven equal.
  *  - `same_day_reorder`: how often does one customer place MULTIPLE
  *    orders on one day — the order-consolidation opportunity (every
  *    extra same-day order is a mergeable shipment). Distribution of
  *    orders-per-(customer, day) with value mass. */
object Queries144 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "pq_balance_audit" -> { (sp, dir) =>
      import Queries21.{PqM, PqDim, PqK}
      val cb = Queries21.pqCodebook(sp, dir)
      val coded = Queries21.pqCoded(sp, dir)
      def codeOf(m: Int) = {
        val slice = org.apache.spark.sql.functions.slice(col("recon"), m * PqDim + 1, PqDim)
        (0 until PqK).map { c =>
          val cbSlice = array(cb(c).slice(m * PqDim, (m + 1) * PqDim).map(lit): _*)
          when(slice === cbSlice, lit(c.toLong))
        }.reduceRight(_ otherwise _)
      }
      val cells = coded.select(explode(array((0 until PqM).map(m =>
          struct(lit(m.toLong).as("subspace"), codeOf(m).as("code"))): _*)).as("x"))
        .select(col("x.subspace").as("subspace"), col("x.code").as("code"))
        .groupBy("subspace", "code").agg(count(lit(1)).as("n_vectors"))
      val tot = cells.groupBy("subspace").agg(sum("n_vectors").as("n_total"))
      cells.join(broadcast(tot), Seq("subspace"))
        .select(col("subspace"), col("code"), col("n_vectors"),
          expr("n_vectors * 1000 div n_total").as("share_milli"))
        .orderBy("subspace", "code")
    },

    "same_day_reorder" -> { (sp, dir) =>
      val perDay = Tables.orders(sp, dir)
        .select(col("o_custkey"),
          expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"))
        .groupBy("o_custkey", "day")
        .agg(count(lit(1)).as("k"), sum("cents").as("day_cents"))
      val dist = perDay.groupBy(col("k").as("orders_that_day"))
        .agg(count(lit(1)).as("n_custdays"), sum("day_cents").as("total_cents"))
      val tot = dist.agg(sum("n_custdays").as("n_all"))
      dist.crossJoin(broadcast(tot))
        .select(col("orders_that_day"), col("n_custdays"),
          expr("n_custdays * 1000 div n_all").as("share_milli"), col("total_cents"))
        .orderBy("orders_that_day")
    }
  )

  val oracles: Map[String, String] = {
    import Queries21.{PqM, PqK, PqMvSql, PqDlColsSql, PqCodeColsSql}
    val unpivot = (0 until PqM).map(m =>
      s"SELECT CAST($m AS BIGINT) AS subspace, CAST(code$m AS BIGINT) AS code FROM coded")
      .mkString("\n  UNION ALL ")
    Map(
      "pq_balance_audit" ->
        s"""WITH cbv AS (
           |  SELECT vec_id, $PqMvSql AS qv FROM embeddings WHERE vec_id < $PqK
           |), cb AS (
           |  SELECT list(qv ORDER BY vec_id) AS cb_all FROM cbv
           |), e AS (
           |  SELECT vec_id, $PqMvSql AS qv FROM embeddings
           |), dls AS (
           |  SELECT vec_id, qv,
           |    $PqDlColsSql
           |  FROM e, cb
           |), coded AS (
           |  SELECT vec_id, $PqCodeColsSql FROM dls
           |), cells AS (
           |  SELECT subspace, code, CAST(count(*) AS BIGINT) AS n_vectors
           |  FROM ($unpivot) u GROUP BY 1, 2
           |),
           |tot AS (SELECT subspace, CAST(sum(n_vectors) AS BIGINT) AS n_total
           |        FROM cells GROUP BY subspace)
           |SELECT c.subspace, c.code, c.n_vectors,
           |  CAST(c.n_vectors * 1000 // t.n_total AS BIGINT) AS share_milli
           |FROM cells c JOIN tot t ON t.subspace = c.subspace
           |ORDER BY c.subspace, c.code""".stripMargin,

      "same_day_reorder" ->
        s"""WITH per_day AS (
           |  SELECT o_custkey, epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS day,
           |    CAST(count(*) AS BIGINT) AS k,
           |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS day_cents
           |  FROM orders GROUP BY 1, 2
           |),
           |dist AS (
           |  SELECT k AS orders_that_day, CAST(count(*) AS BIGINT) AS n_custdays,
           |    CAST(sum(day_cents) AS BIGINT) AS total_cents
           |  FROM per_day GROUP BY 1
           |),
           |tot AS (SELECT CAST(sum(n_custdays) AS BIGINT) AS n_all FROM dist)
           |SELECT d.orders_that_day, d.n_custdays,
           |  CAST(d.n_custdays * 1000 // t.n_all AS BIGINT) AS share_milli, d.total_cents
           |FROM dist d, tot t
           |ORDER BY d.orders_that_day""".stripMargin
    )
  }
}
