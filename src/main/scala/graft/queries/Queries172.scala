package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-12 batch #15 — the privacy trio's third leg, price indices, label
  * diagnostics, and differential-privacy budgeting:
  *
  *  - `t_closeness`: completes k_anonymity / l_diversity — per
  *    quasi-identifier class (the SAME (event_type, day, day_quarter)
  *    classes), the distance between the class's sensitive-attribute
  *    distribution (user tier) and the global one; for a binary attribute
  *    EMD reduces to |p_class − p_global|, kept exact via the integer
  *    cross-product |c1·N − g1·n| before ONE rendering division.
  *  - `price_index`: Laspeyres and Paasche price indices between the
  *    revenue_bridge years — base/current-weighted unit values with the
  *    per-part term quantized by ONE integer division ((r1·q0) div q1,
  *    deterministic on both engines); the canonical inflation read over
  *    the part catalog, one row.
  *  - `knn_label_consistency`: per-label share of k=3 nearest neighbors
  *    (within the adaptive IVF cells) agreeing with the vector's label —
  *    the label-noise / cluster-quality read a classifier pipeline runs
  *    before training on the labels.
  *  - `dp_error_planner`: the ε-budget table — for ε ∈ {0.1, 1.0}
  *    (deci-scaled to stay integer), the Laplace noise scale Δ/ε and the
  *    expected relative error per event-type count in per-mille:
  *    deterministic arithmetic over the true counts (planning, not
  *    noising — no randomness; the read that decides which rollups
  *    survive a DP release).
  */
object Queries172 extends QuerySet {
  private val EpsDeci = Seq(1L, 10L) // ε = 0.1, 1.0

  val defs: Map[String, Q] = Map(
    "t_closeness" -> { (sp, dir) =>
      val base = Tables.events(sp, dir).select(
        col("event_type"),
        expr("ts_us div 86400000000").as("day"),
        expr("(ts_us div 21600000000) % 4").as("day_quarter"),
        expr(Queries29.TierSql).as("tier"))
      val classes = base.groupBy("event_type", "day", "day_quarter")
        .agg(count(lit(1)).as("n"),
          sum(when(col("tier") >= 1, 1L).otherwise(0L)).as("c1"))
      val global = base.agg(count(lit(1)).as("nn"),
        sum(when(col("tier") >= 1, 1L).otherwise(0L)).as("g1"))
      classes.crossJoin(broadcast(global))
        .select(col("event_type"), col("day"), col("day_quarter"), col("n"),
          expr("abs(c1 * nn - g1 * n) * 1000 div (n * nn)").as("t_dist_pm"))
        .withColumn("is_close", col("t_dist_pm") <= 200)
        .orderBy("event_type", "day", "day_quarter")
    },

    "price_index" -> { (sp, dir) =>
      def yearAgg(y: Int) = Tables.lineitem(sp, dir)
        .filter(year(col("l_shipdate")) === y)
        .groupBy("l_partkey")
        .agg(sum(round(col("l_quantity")).cast("bigint")).as(s"q$y"),
          sum(round(col("l_extendedprice") * 100).cast("bigint")).as(s"r$y"))
      val j = yearAgg(Queries123.Y1).join(yearAgg(Queries123.Y2), "l_partkey")
        .filter(col(s"q${Queries123.Y1}") > 0 && col(s"q${Queries123.Y2}") > 0)
      val (q0, r0, q1, r1) =
        (s"q${Queries123.Y1}", s"r${Queries123.Y1}", s"q${Queries123.Y2}", s"r${Queries123.Y2}")
      j.agg(count(lit(1)).as("n_parts"),
          sum(expr(s"($r1 * $q0) div $q1")).as("lasp_num"),
          sum(col(r0)).as("lasp_den"),
          sum(col(r1)).as("paasche_num"),
          sum(expr(s"($r0 * $q1) div $q0")).as("paasche_den"))
        .select(col("n_parts"),
          expr("lasp_num * 1000 div lasp_den").as("laspeyres_pm"),
          expr("paasche_num * 1000 div paasche_den").as("paasche_pm"))
    },

    "knn_label_consistency" -> { (sp, dir) =>
      val assign = graft.util.CacheScope.track(Queries162.cellAssign(sp, dir))
      val pairs = Queries162.cellPairs(assign)
      val directed = pairs.select(col("id_a").as("qid"), col("id_b").as("nid"), col("cos"))
        .union(pairs.select(col("id_b").as("qid"), col("id_a").as("nid"), col("cos")))
      val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      val edges = directed.withColumn("rk", row_number().over(wTop)).filter(col("rk") <= 3)
      val labels = Tables.embeddings(sp, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"))
      edges
        .join(labels.select(col("vec_id").as("qid"), col("label").as("q_label")), "qid")
        .join(labels.select(col("vec_id").as("nid"), col("label").as("n_label")), "nid")
        .groupBy("q_label")
        .agg(count(lit(1)).as("n_edges"),
          sum(when(col("q_label") === col("n_label"), 1L).otherwise(0L)).as("n_same"))
        .withColumn("consistency_pm", expr("n_same * 1000 div n_edges"))
        .orderBy("q_label")
    },

    "dp_error_planner" -> { (sp, dir) =>
      import sp.implicits._
      val counts = Tables.events(sp, dir)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      counts.crossJoin(broadcast(EpsDeci.toDF("eps_deci")))
        .select(col("event_type"), col("eps_deci"), col("n"),
          expr("10000 div eps_deci").as("noise_scale_milli"),
          expr("10000 div (eps_deci * n)").as("rel_err_pm"))
        .orderBy("event_type", "eps_deci")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "t_closeness" -> {
      val tier = Queries29.TierDuck
      s"""WITH base AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    (epoch_us(ts) // 21600000000) % 4 AS day_quarter,
         |    $tier AS tier
         |  FROM events),
         |classes AS (
         |  SELECT event_type, day, day_quarter, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN tier >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
         |  FROM base GROUP BY 1, 2, 3),
         |g AS (SELECT CAST(count(*) AS BIGINT) AS nn,
         |        CAST(sum(CASE WHEN tier >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS g1
         |      FROM base)
         |SELECT event_type, day, day_quarter, n,
         |  CAST(abs(c1 * nn - g1 * n) * 1000 // (n * nn) AS BIGINT) AS t_dist_pm,
         |  (abs(c1 * nn - g1 * n) * 1000 // (n * nn)) <= 200 AS is_close
         |FROM classes, g
         |ORDER BY event_type, day, day_quarter""".stripMargin
    },

    "price_index" -> {
      val (y0, y1) = (Queries123.Y1, Queries123.Y2)
      s"""WITH a AS (
         |  SELECT l_partkey, CAST(sum(round(l_quantity)) AS BIGINT) AS q0,
         |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS r0
         |  FROM lineitem WHERE year(l_shipdate) = $y0 GROUP BY 1),
         |b AS (
         |  SELECT l_partkey, CAST(sum(round(l_quantity)) AS BIGINT) AS q1,
         |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS r1
         |  FROM lineitem WHERE year(l_shipdate) = $y1 GROUP BY 1),
         |j AS (SELECT a.*, b.q1, b.r1 FROM a JOIN b USING (l_partkey)
         |      WHERE a.q0 > 0 AND b.q1 > 0)
         |SELECT CAST(count(*) AS BIGINT) AS n_parts,
         |  CAST(sum((r1 * q0) // q1) * 1000 // sum(r0) AS BIGINT) AS laspeyres_pm,
         |  CAST(sum(r1) * 1000 // sum((r0 * q1) // q0) AS BIGINT) AS paasche_pm
         |FROM j""".stripMargin
    },

    "knn_label_consistency" ->
      s"""WITH ${Queries162.AssignCte},
         |directed AS (
         |  SELECT id_a AS qid, id_b AS nid, cos FROM pairs
         |  UNION ALL
         |  SELECT id_b AS qid, id_a AS nid, cos FROM pairs),
         |edges AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, nid) AS rk FROM directed) t
         |  WHERE rk <= 3),
         |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings)
         |SELECT ql.label AS q_label, CAST(count(*) AS BIGINT) AS n_edges,
         |  CAST(sum(CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
         |  CAST(sum(CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END) * 1000 // count(*)
         |    AS BIGINT) AS consistency_pm
         |FROM edges
         |JOIN lab ql ON ql.vec_id = edges.qid
         |JOIN lab nl ON nl.vec_id = edges.nid
         |GROUP BY ql.label ORDER BY q_label""".stripMargin,

    "dp_error_planner" ->
      s"""SELECT event_type, CAST(eps_deci AS BIGINT) AS eps_deci,
         |  CAST(n AS BIGINT) AS n,
         |  CAST(10000 // eps_deci AS BIGINT) AS noise_scale_milli,
         |  CAST(10000 // (eps_deci * n) AS BIGINT) AS rel_err_pm
         |FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS n
         |      FROM events GROUP BY 1) c,
         |     (SELECT unnest([${EpsDeci.mkString(", ")}]) AS eps_deci) e
         |ORDER BY event_type, eps_deci""".stripMargin
  )
}
