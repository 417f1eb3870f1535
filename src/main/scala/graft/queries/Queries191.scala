package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.SimF
import graft.operators.KMeans

/** Round-14 batch #6 — model-selection / eval harnesses:
  *
  *  - `kmeans_elbow`: the k sweep behind IVF sizing — integer-micro Lloyd
  *    training (k ∈ {2,4,8}, 3 iterations, `operators.KMeans.fitMicro`) with
  *    per-k assigned-dot mass and occupancy. Training is bit-identical
  *    across engines (every sum an exact 64-bit integer), so the DuckDB
  *    twin unrolls all three chains to the same centroids; assignment stays
  *    a narrow projection against plan-time centroid literals.
  *  - `recall_at_k_curve`: IVF probe-1 recall at cutoffs k ∈ {1,3,5} for
  *    the 5 fixed query vectors vs the exact top-5 (same left-fold cosine
  *    and (cos desc, id) tiebreak on both sides) — the cutoff companion to
  *    `ann_nprobe_curve`'s probe sweep. Query side is bounded, corpus side
  *    is one scan.
  *  - `mase_eval`: naive-1 vs seasonal-7 forecast error ratio (MASE) over
  *    the daily purchase-revenue series — row-lag spelling over the
  *    calendar-bounded day table.
  */
object Queries191 extends QuerySet {
  private val DayUs = 86400000000L
  private val ElbowKs = Seq(2, 4, 8)
  private val RecallKs = Seq(1, 3, 5)

  val defs: Map[String, Q] = Map(
    "kmeans_elbow" -> { (sp, dir) =>
      val embT = Tables.embeddings(sp, dir)
      // the three K trainers are independent (each is 3 Lloyd iterations
      // with a bounded centroid collect) — overlap them, guide §2.6
      val perK = graft.util.Par.run(ElbowKs.map { k => () =>
        val cents = KMeans.fitMicro(embT, "embedding", "vec_id", k, maxIter = 3)
        val withCell = embT
          .select(KMeans.quantizeMicro(col("embedding")).as("v"))
          .select(KMeans.assignCellMicro(col("v"), cents).as("cell"), col("v"))
        // dot with the ASSIGNED centroid (exact integer, micro^2 units) via
        // a k-branch CASE over the same plan-time centroid literals
        val dotAssigned = cents.zipWithIndex.foldLeft(lit(0L)) { case (acc, (c, i)) =>
          when(col("cell") === i.toLong,
            aggregate(zip_with(col("v"), typedLit(c.toSeq), (x, y) => x * y),
              lit(0L), (a, x) => a + x)).otherwise(acc)
        }
        withCell.withColumn("dot", dotAssigned)
          .groupBy("cell").agg(count(lit(1)).as("n"), sum("dot").as("dm"))
          .agg(count(lit(1)).as("n_cells_used"), max("n").as("largest_cell"),
            sum("dm").as("dot_mass"))
          .select(lit(k.toLong).as("k"), col("n_cells_used"), col("largest_cell"),
            col("dot_mass"))
      })
      perK.reduce(_ unionAll _).orderBy("k")
    },

    "recall_at_k_curve" -> { (sp, dir) =>
      val assign = graft.util.CacheScope.track(Queries162.cellAssign(sp, dir))
      val q = broadcast(assign.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("nrm").as("qn"), col("cell").as("qcell")))
      val wT = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      val truth = assign
        .select(col("vec_id").as("nid"), col("embedding").as("nv"), col("nrm").as("nn"))
        .crossJoin(q).filter(col("nid") =!= col("qid"))
        .withColumn("cos", SimF.dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
        .withColumn("rk_t", row_number().over(wT))
        .filter(col("rk_t") <= RecallKs.max).select("qid", "nid", "rk_t")
      val approx = assign
        .select(col("vec_id").as("nid"), col("embedding").as("nv"),
          col("nrm").as("nn"), col("cell"))
        .join(q, col("cell") === col("qcell")).filter(col("nid") =!= col("qid"))
        .withColumn("cos", SimF.dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
        .withColumn("rk_a", row_number().over(wT))
        .filter(col("rk_a") <= RecallKs.max).select("qid", "nid", "rk_a")
      val joined = graft.util.CacheScope.track(truth.join(approx, Seq("qid", "nid")))
      import sp.implicits._
      val grid = broadcast(q.select("qid")
        .crossJoin(RecallKs.map(_.toLong).toDF("k")))
      val hits = RecallKs.map { k =>
        joined.filter(col("rk_t") <= k && col("rk_a") <= k)
          .groupBy("qid").agg(count(lit(1)).as("n_hit"))
          .withColumn("k", lit(k.toLong))
      }.reduce(_ unionAll _)
      grid.join(hits, Seq("qid", "k"), "left")
        .select(col("qid"), col("k"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          expr("coalesce(n_hit, 0) * 1000 div k").as("recall_milli"))
        .orderBy("qid", "k")
    },

    "mase_eval" -> { (sp, dir) =>
      val daily = Synth.withRaw(Tables.events(sp, dir))
        .filter(col("event_type") === "purchase")
        .groupBy(expr(s"ts_us div $DayUs").as("day"))
        .agg(sum("amount_cents").as("rev"))
      val w = Window.orderBy("day")
      daily
        .withColumn("l1", lag("rev", 1).over(w))
        .withColumn("l7", lag("rev", 7).over(w))
        .filter(col("l1").isNotNull && col("l7").isNotNull)
        .agg(count(lit(1)).as("n_days"),
          sum(abs(expr("rev - l1"))).as("e1"), sum(abs(expr("rev - l7"))).as("e7"))
        .select(col("n_days"),
          expr("e1 div n_days").as("mae_naive1_cents"),
          expr("e7 div n_days").as("mae_seasonal7_cents"),
          expr("e1 * 1000 div greatest(e7, 1)").as("mase_milli"))
    }
  )

  // ---- DuckDB twins ----

  /** One unrolled integer-micro Lloyd iteration with `s`-suffixed CTE names
    * (the multi-k twin of `Queries3.kmeansIterSql` — three chains share one
    * WITH, so names must not collide). */
  private def kmIterSql(t: Int, s: String, prev: String): String =
    s"""a${t}_$s AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT j.vec_id, j.cell,
       |      row_number() OVER (PARTITION BY j.vec_id ORDER BY
       |        CAST(j.dot AS DOUBLE) / (sqrt(CAST(nv.nv2 AS DOUBLE)) * sqrt(CAST(nc.nc2 AS DOUBLE))) DESC, j.cell) AS rk
       |    FROM (SELECT d.vec_id, c.cell, CAST(sum(d.x * c.c) AS BIGINT) AS dot
       |          FROM qd d JOIN $prev c ON d.i = c.i GROUP BY d.vec_id, c.cell) j
       |    JOIN nv ON nv.vec_id = j.vec_id
       |    JOIN (SELECT cell, CAST(sum(c * c) AS BIGINT) AS nc2 FROM $prev GROUP BY cell) nc
       |      ON nc.cell = j.cell
       |  ) r WHERE rk = 1
       |),
       |m${t}_$s AS (
       |  SELECT a${t}_$s.cell, d.i,
       |    CAST(sum(d.x) AS BIGINT) // count(*) AS c
       |  FROM a${t}_$s JOIN qd d ON d.vec_id = a${t}_$s.vec_id GROUP BY a${t}_$s.cell, d.i
       |),
       |c${t}_$s AS (
       |  SELECT p.cell, p.i, coalesce(m${t}_$s.c, p.c) AS c
       |  FROM $prev p LEFT JOIN m${t}_$s ON m${t}_$s.cell = p.cell AND m${t}_$s.i = p.i
       |)""".stripMargin

  /** Seed → 3 Lloyd iterations → final assignment with assigned-dot → per-k
    * one-row aggregate, all `s`-suffixed. */
  private def kmChainSql(k: Int, s: String): String =
    s"""c0_$s AS (
       |  SELECT z.cell, qd.i, qd.x AS c
       |  FROM (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell
       |        FROM (SELECT vec_id FROM q ORDER BY vec_id LIMIT $k) zz) z
       |  JOIN qd ON qd.vec_id = z.vec_id
       |),
       |${kmIterSql(1, s, s"c0_$s")},
       |${kmIterSql(2, s, s"c1_$s")},
       |${kmIterSql(3, s, s"c2_$s")},
       |d_$s AS (
       |  SELECT vec_id, cell, dot FROM (
       |    SELECT j.vec_id, j.cell, j.dot,
       |      row_number() OVER (PARTITION BY j.vec_id ORDER BY
       |        CAST(j.dot AS DOUBLE) / (sqrt(CAST(nv.nv2 AS DOUBLE)) * sqrt(CAST(nc.nc2 AS DOUBLE))) DESC, j.cell) AS rk
       |    FROM (SELECT d.vec_id, c.cell, CAST(sum(d.x * c.c) AS BIGINT) AS dot
       |          FROM qd d JOIN c3_$s c ON d.i = c.i GROUP BY d.vec_id, c.cell) j
       |    JOIN nv ON nv.vec_id = j.vec_id
       |    JOIN (SELECT cell, CAST(sum(c * c) AS BIGINT) AS nc2 FROM c3_$s GROUP BY cell) nc
       |      ON nc.cell = j.cell
       |  ) r WHERE rk = 1
       |),
       |g_$s AS (
       |  SELECT cell, CAST(count(*) AS BIGINT) AS n, CAST(sum(dot) AS BIGINT) AS dm
       |  FROM d_$s GROUP BY 1),
       |agg_$s AS (
       |  SELECT CAST($k AS BIGINT) AS k,
       |    CAST(count(*) AS BIGINT) AS n_cells_used,
       |    CAST(max(n) AS BIGINT) AS largest_cell,
       |    CAST(sum(dm) AS BIGINT) AS dot_mass
       |  FROM g_$s)""".stripMargin

  private def dotSql(a: String, b: String): String = Queries3.dotSqlShared(a, b)

  val oracles: Map[String, String] = Map(
    "kmeans_elbow" ->
      s"""WITH q AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         |  FROM embeddings
         |),
         |qd AS (
         |  SELECT vec_id, CAST(i AS INTEGER) AS i, v[CAST(i AS INTEGER)] AS x
         |  FROM q, range(1, 65) t(i)
         |),
         |nv AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS nv2 FROM qd GROUP BY vec_id),
         |${kmChainSql(2, "k2")},
         |${kmChainSql(4, "k4")},
         |${kmChainSql(8, "k8")}
         |SELECT * FROM agg_k2
         |UNION ALL SELECT * FROM agg_k4
         |UNION ALL SELECT * FROM agg_k8
         |ORDER BY k""".stripMargin,

    "recall_at_k_curve" ->
      s"""WITH ${Queries162.AssignCte},
         |qq AS (
         |  SELECT vec_id AS qid, embedding AS qv, nrm AS qn, cell AS qcell
         |  FROM assign WHERE vec_id < 5),
         |truth AS (
         |  SELECT qid, nid, rk_t FROM (
         |    SELECT q.qid, a.vec_id AS nid,
         |      row_number() OVER (PARTITION BY q.qid ORDER BY
         |        ${dotSql("a.embedding", "q.qv")} / (a.nrm * q.qn) DESC, a.vec_id) AS rk_t
         |    FROM assign a, qq q WHERE a.vec_id <> q.qid) t
         |  WHERE rk_t <= ${RecallKs.max}),
         |apx AS (
         |  SELECT qid, nid, rk_a FROM (
         |    SELECT q.qid, a.vec_id AS nid,
         |      row_number() OVER (PARTITION BY q.qid ORDER BY
         |        ${dotSql("a.embedding", "q.qv")} / (a.nrm * q.qn) DESC, a.vec_id) AS rk_a
         |    FROM assign a JOIN qq q ON a.cell = q.qcell WHERE a.vec_id <> q.qid) t
         |  WHERE rk_a <= ${RecallKs.max}),
         |grid AS (
         |  SELECT qid, CAST(k AS BIGINT) AS k FROM qq
         |  CROSS JOIN (VALUES ${RecallKs.map(k => s"($k)").mkString(", ")}) v(k)),
         |hits AS (
         |  SELECT g.qid, g.k, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM grid g
         |  JOIN truth t ON t.qid = g.qid AND t.rk_t <= g.k
         |  JOIN apx x ON x.qid = t.qid AND x.nid = t.nid AND x.rk_a <= g.k
         |  GROUP BY 1, 2)
         |SELECT g.qid, g.k, CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(coalesce(n_hit, 0) * 1000 // g.k AS BIGINT) AS recall_milli
         |FROM grid g LEFT JOIN hits ON hits.qid = g.qid AND hits.k = g.k
         |ORDER BY g.qid, g.k""".stripMargin,

    "mase_eval" -> Synth.withCte(
      s""", daily AS (
         |  SELECT ts_us // $DayUs AS day, CAST(sum(amount_cents) AS BIGINT) AS rev
         |  FROM raw WHERE event_type = 'purchase' GROUP BY 1),
         |lagged AS (
         |  SELECT rev, lag(rev, 1) OVER (ORDER BY day) AS l1,
         |    lag(rev, 7) OVER (ORDER BY day) AS l7
         |  FROM daily),
         |e AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_days,
         |    CAST(sum(abs(rev - l1)) AS BIGINT) AS e1,
         |    CAST(sum(abs(rev - l7)) AS BIGINT) AS e7
         |  FROM lagged WHERE l1 IS NOT NULL AND l7 IS NOT NULL)
         |SELECT n_days, CAST(e1 // n_days AS BIGINT) AS mae_naive1_cents,
         |  CAST(e7 // n_days AS BIGINT) AS mae_seasonal7_cents,
         |  CAST(e1 * 1000 // greatest(e7, 1) AS BIGINT) AS mase_milli
         |FROM e""".stripMargin)
  )
}
