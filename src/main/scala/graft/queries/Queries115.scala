package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.GraftFunctions
import graft.queries.IntIdioms.tdivSql

/** Round-9 batch #35 — distributed linear algebra + classical forecasting:
  *
  *  - `pca_power_iter`: the corpus's top principal direction by power
  *    iteration over the exact integer Gram matrix. ONE distributed pass
  *    builds G = Σ qᵥqᵥᵀ (milli-quantized embeddings; the 64×64=4096-cell
  *    outer product per row accumulated by the new
  *    [[graft.plans.ArraySum]] native aggregate — a single fixed-size
  *    partial per partition with map-side combine, where a posexplode
  *    formulation would push N×4096 rows through the exchange). The
  *    bounded 4096-long Gram then runs three exact integer power
  *    iterations driver-side (matvec + truncating max-abs rescale to e3)
  *    — the same bounded-collect contract as the IVF centroid trainers.
  *    The DuckDB twin unrolls identical iterations, so every component
  *    is hash-exact; the eigvec sign is pinned by the all-positive start.
  *  - `holt_forecast`: Holt's linear-trend exponential smoothing
  *    (α=β=1/2 as exact integer halving) over the monthly revenue series
  *    — level/trend/one-step-fitted per month. The month series is
  *    calendar-bounded, so the fold is a driver-side exact recurrence
  *    (the bpe-merge-table pattern); DuckDB replays it as a recursive
  *    CTE. The scale-bearing work is the one month-keyed aggregation.
  */
object Queries115 extends QuerySet {
  private[queries] val Dim = 64
  private[queries] val PowerIters = 3

  /** Milli-quantized embedding column (shared with Queries116). */
  private[queries] def quantized(sp: SparkSession, dir: String): DataFrame =
    Tables.embeddings(sp, dir).select(col("vec_id"),
      transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long")).as("q"))

  /** One distributed ArraySum pass → the exact integer Gram (Dim² cells,
    * bounded collect). Shared with Queries129's isotropy audit. */
  private[graft] def gramMatrix(sp: SparkSession, dir: String): Array[Long] = {
    // r15: the per-row Gram contribution moved off the interpreted
    // transform-over-sequence lambda (d² CodegenFallback evals with two
    // element_at probes each, per row) onto the codegen'd
    // OuterProductExpression — identical multiplies, identical order
    quantized(sp, dir).select(GraftFunctions.outerProduct(col("q")).as("gr"))
      .agg(GraftFunctions.arraySum(col("gr")).as("g"))
      .collect()(0).getSeq[Long](0).toArray
  }

  /** Train the e3 top principal direction: the Gram pass, then
    * [[PowerIters]] exact integer iterations driver-side (matvec +
    * truncating max-abs rescale). */
  private[queries] def powerEigvec(sp: SparkSession, dir: String): Array[Long] =
    powerEigvecFromGram(gramMatrix(sp, dir))

  private[graft] def powerEigvecFromGram(gram: Array[Long]): Array[Long] = {
    var v = Array.fill(Dim)(1000L)
    (1 to PowerIters).foreach { _ =>
      val w = Array.tabulate(Dim) { i =>
        var acc = 0L
        var j = 0
        while (j < Dim) { acc += gram(i * Dim + j) * v(j); j += 1 }
        acc
      }
      val s = w.map(math.abs).max
      v = w.map(x => (x * 1000) / s)
    }
    v
  }

  val defs: Map[String, Q] = Map(
    "pca_power_iter" -> { (sp, dir) =>
      val v = powerEigvec(sp, dir)
      import sp.implicits._
      v.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq
        .toDF("dim", "comp_e3").orderBy("dim")
    },

    "holt_forecast" -> { (sp, dir) =>
      val monthly = Tables.orders(sp, dir)
        .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("mkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      // calendar-bounded series: the exact α=β=1/2 Holt recurrence
      val out = Array.newBuilder[(Long, Long, Long, Long, Long)]
      var l = monthly.head._2
      var b = 0L
      out += ((monthly.head._1, monthly.head._2, l, b, monthly.head._2))
      monthly.tail.foreach { case (mk, y) =>
        val fitted = l + b
        val lNew = (y + l + b) / 2
        val bNew = ((lNew - l) + b) / 2
        l = lNew; b = bNew
        out += ((mk, y, l, b, fitted))
      }
      import sp.implicits._
      out.result().toSeq
        .toDF("mkey", "rev_cents", "level_cents", "trend_cents", "fitted_cents")
        .orderBy("mkey")
    }
  )

  /** CTE chain ending at `v{PowerIters}` = the trained e3 eigvec (plus the
    * `q` quantized-vector relation) — shared with Queries116's projection. */
  private[queries] val PcaCteSql: String = {
    val iters = (1 to PowerIters).map { t =>
      s"""w$t AS (
         |  SELECT gram.k // $Dim AS i, CAST(sum(gram.g * v${t - 1}.v) AS BIGINT) AS w
         |  FROM gram JOIN v${t - 1} ON v${t - 1}.i = gram.k % $Dim GROUP BY 1
         |),
         |s$t AS (SELECT CAST(max(abs(w)) AS BIGINT) AS s FROM w$t),
         |v$t AS (SELECT i, ${tdivSql("w * 1000", "s")} AS v FROM w$t CROSS JOIN s$t)""".stripMargin
    }.mkString(",\n")
    s"""q AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM embeddings
       |),
       |ks AS (SELECT unnest(range(0, ${Dim * Dim})) AS k),
       |gram AS MATERIALIZED (
       |  SELECT k, CAST(sum(q.q[k // $Dim + 1] * q.q[k % $Dim + 1]) AS BIGINT) AS g
       |  FROM q CROSS JOIN ks GROUP BY k
       |),
       |v0 AS (SELECT unnest(range(0, $Dim)) AS i, CAST(1000 AS BIGINT) AS v),
       |$iters""".stripMargin
  }

  private val pcaOracle: String =
    s"""WITH $PcaCteSql
       |SELECT CAST(i AS BIGINT) AS dim, CAST(v AS BIGINT) AS comp_e3
       |FROM v$PowerIters ORDER BY dim""".stripMargin

  val oracles: Map[String, String] = Map(
    "pca_power_iter" -> pcaOracle,

    "holt_forecast" -> {
      val lNew = tdivSql("(m.rev + r.l + r.b)", "2")
      s"""WITH RECURSIVE monthly AS (
         |  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS mkey,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
         |  FROM orders GROUP BY 1
         |),
         |months AS (
         |  SELECT CAST(row_number() OVER (ORDER BY mkey) AS BIGINT) AS t, mkey, rev
         |  FROM monthly
         |),
         |rec AS (
         |  SELECT t, mkey, rev, rev AS l, CAST(0 AS BIGINT) AS b, rev AS fitted
         |  FROM months WHERE t = 1
         |  UNION ALL
         |  SELECT m.t, m.mkey, m.rev,
         |    $lNew AS l,
         |    ${tdivSql(s"(($lNew) - r.l + r.b)", "2")} AS b,
         |    r.l + r.b AS fitted
         |  FROM rec r JOIN months m ON m.t = r.t + 1
         |)
         |SELECT mkey, rev AS rev_cents, l AS level_cents, b AS trend_cents,
         |  fitted AS fitted_cents
         |FROM rec ORDER BY mkey""".stripMargin
    }
  )
}
