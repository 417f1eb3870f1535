package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #54 — metric co-movement + coreset selection:
  *
  *  - `metric_corr_matrix`: the Pearson correlation grid over the daily
  *    business series (orders, revenue in hundred-dollar units, distinct
  *    customers, mean order value) — "which daily metrics move
  *    together". Moments are EXACT BIGINTs over the ~2.4k-day series
  *    (the revenue_autoreg overflow-safe unit trick); only the final
  *    r = cov/√(var·var) runs in double, spelled identically on both
  *    engines (IEEE-deterministic on identical integer inputs), rounded
  *    to milli.
  *  - `kcenter_coreset`: greedy k-center / farthest-point selection
  *    (Gonzalez 1985) — the classic coreset picker for diverse
  *    fine-tuning subsets: 8 rounds, each adding the vector FARTHEST
  *    (max min-distance, exact integer squared euclidean on
  *    milli-quantized embeddings) from the chosen set, tie-broken by
  *    vec_id. Per round the argmax is a distributed orderBy-limit-1 and
  *    the center ships back as a broadcast literal (the IVF-trainer
  *    bounded-collect contract); the distance column folds with
  *    `least` and the lineage stays flat via localCheckpoint. The
  *    DuckDB twin unrolls all 8 rounds as CTEs (the kmeans pattern).
  *    `radius_sq` is the coverage radius the coreset guarantees
  *    (2-approximation of the optimal k-center cost). */
object Queries134 extends QuerySet {
  private val DayUs = 86400000000L
  private val KCenters = 8

  val defs: Map[String, Q] = Map(
    "metric_corr_matrix" -> { (sp, dir) =>
      val daily = Tables.orders(sp, dir)
        .select(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"),
          col("o_custkey"), round(col("o_totalprice") * 100).cast("bigint").as("cents"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_orders"),
          expr("sum(cents) div 10000").as("rev_h"),
          countDistinct(col("o_custkey")).as("n_custs"))
        .withColumn("avg_order_h", expr("rev_h div n_orders"))
      val vars = Seq("n_orders", "rev_h", "n_custs", "avg_order_h")
      val aggCols: Seq[Column] = count(lit(1)).as("n") +:
        (vars.flatMap(v => Seq(sum(col(v)).as(s"s_$v"),
          sum(col(v) * col(v)).as(s"s_${v}_$v"))) ++
          vars.combinations(2).toSeq.map { case Seq(a, b) =>
            sum(col(a) * col(b)).as(s"s_${a}_$b")
          })
      val moments = daily.agg(aggCols.head, aggCols.tail: _*)
      val pairs = vars.combinations(2).toSeq.map { case Seq(a, b) =>
        moments.select(lit(a).as("var_a"), lit(b).as("var_b"), col("n").as("n_days"),
          expr(s"CAST(round(1000.0 * (n * s_${a}_$b - s_$a * s_$b) / " +
            s"sqrt(CAST(n * s_${a}_$a - s_$a * s_$a AS DOUBLE) * " +
            s"CAST(n * s_${b}_$b - s_$b * s_$b AS DOUBLE))) AS BIGINT)").as("corr_milli"))
      }
      pairs.reduce(_ unionAll _).orderBy("var_a", "var_b")
    },

    "kcenter_coreset" -> { (sp, dir) =>
      val q = Queries115.quantized(sp, dir).localCheckpoint(true)
      def d2(center: Seq[Long]): Column = {
        val cLit = array(center.map(lit): _*)
        aggregate(zip_with(col("q"), cLit, (x, y) => (x - y) * (x - y)),
          lit(0L), (a, x) => a + x)
      }
      val firstId = q.agg(min("vec_id")).collect()(0).getLong(0)
      val firstQ = q.filter(col("vec_id") === firstId)
        .collect()(0).getSeq[Long](1)
      var dist = q.withColumn("d", d2(firstQ)).localCheckpoint(true)
      val out = Seq.newBuilder[(Long, Long, Long)]
      out += ((1L, firstId, 0L))
      (2 to KCenters).foreach { r =>
        val far = dist.orderBy(col("d").desc, col("vec_id")).limit(1).collect()(0)
        val (cid, cq, radius) = (far.getLong(0), far.getSeq[Long](1), far.getLong(2))
        out += ((r.toLong, cid, radius))
        dist = dist.withColumn("d", least(col("d"), d2(cq))).localCheckpoint(true)
      }
      import sp.implicits._
      out.result().toDF("round", "center_id", "radius_sq").orderBy("round")
    }
  )

  val oracles: Map[String, String] = Map(
    "metric_corr_matrix" -> {
      val vars = Seq("n_orders", "rev_h", "n_custs", "avg_order_h")
      val sums = vars.flatMap(v => Seq(
        s"CAST(sum($v) AS BIGINT) AS s_$v",
        s"CAST(sum($v * $v) AS BIGINT) AS s_${v}_$v")) ++
        vars.combinations(2).toSeq.map { case Seq(a, b) =>
          s"CAST(sum($a * $b) AS BIGINT) AS s_${a}_$b"
        }
      val selects = vars.combinations(2).toSeq.map { case Seq(a, b) =>
        s"""SELECT '$a' AS var_a, '$b' AS var_b, n AS n_days,
           |  CAST(round(1000.0 * (n * s_${a}_$b - s_$a * s_$b) /
           |    sqrt(CAST(n * s_${a}_$a - s_$a * s_$a AS DOUBLE) *
           |         CAST(n * s_${b}_$b - s_$b * s_$b AS DOUBLE))) AS BIGINT) AS corr_milli
           |FROM moments""".stripMargin
      }
      s"""WITH daily AS (
         |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS day,
         |    CAST(count(*) AS BIGINT) AS n_orders,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 10000 AS BIGINT) AS rev_h,
         |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
         |  FROM orders GROUP BY 1
         |),
         |daily2 AS (SELECT *, rev_h // n_orders AS avg_order_h FROM daily),
         |moments AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, ${sums.mkString(",\n    ")}
         |  FROM daily2
         |)
         |${selects.mkString("\nUNION ALL\n")}
         |ORDER BY var_a, var_b""".stripMargin
    },

    "kcenter_coreset" -> {
      def d2Sql(qRel: String, cRel: String): String =
        s"list_reduce(list_transform(range(1, 65), i -> " +
          s"($qRel.q[CAST(i AS INT)] - $cRel.q[CAST(i AS INT)]) * " +
          s"($qRel.q[CAST(i AS INT)] - $cRel.q[CAST(i AS INT)])), (a, b) -> a + b)"
      val rounds = (2 to KCenters).map { r =>
        s"""far$r AS MATERIALIZED (
           |  SELECT q.vec_id, q.q, d${r - 1}.d
           |  FROM q JOIN d${r - 1} ON d${r - 1}.vec_id = q.vec_id
           |  ORDER BY d${r - 1}.d DESC, q.vec_id LIMIT 1
           |),
           |d$r AS MATERIALIZED (
           |  SELECT d${r - 1}.vec_id,
           |    least(d${r - 1}.d, CAST(${d2Sql("q", s"far$r")} AS BIGINT)) AS d
           |  FROM d${r - 1} JOIN q ON q.vec_id = d${r - 1}.vec_id CROSS JOIN far$r
           |)""".stripMargin
      }.mkString(",\n")
      val rows = (2 to KCenters).map(r =>
        s"SELECT $r AS round, vec_id AS center_id, d AS radius_sq FROM far$r")
      s"""WITH q AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
         |  FROM embeddings
         |),
         |c1 AS (SELECT vec_id, q FROM q ORDER BY vec_id LIMIT 1),
         |d1 AS MATERIALIZED (
         |  SELECT q.vec_id, CAST(${d2Sql("q", "c1")} AS BIGINT) AS d
         |  FROM q CROSS JOIN c1
         |),
         |$rounds
         |SELECT CAST(round AS BIGINT) AS round, CAST(center_id AS BIGINT) AS center_id,
         |  CAST(radius_sq AS BIGINT) AS radius_sq
         |FROM (
         |  SELECT 1 AS round, vec_id AS center_id, 0 AS radius_sq FROM c1
         |  UNION ALL
         |  ${rows.mkString("\n  UNION ALL\n  ")}
         |) t ORDER BY round""".stripMargin
    }
  )
}
