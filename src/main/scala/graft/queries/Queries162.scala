package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.SimF

/** Round-12 batch #5 — density clustering / kNN-graph reads over the IVF
  * cell layout, and two sequential monitoring statistics:
  *
  *  - `dbscan_core`: the DBSCAN point census (core / border / noise per IVF
  *    cell) with eps = cosine ≥ 0.2 and minPts = 2 neighbors. Candidate
  *    pairs come from the ann_ivf-style centroid cell blocking with a
  *    CORPUS-ADAPTIVE cell count (~32 vectors per cell) — neighbor search
  *    never goes all-pairs and the within-cell quadratic term stays
  *    constant per cell as the corpus grows: the blocked-DBSCAN layout.
  *    Cosines are the shared left-fold double kernel; the eps compare is
  *    one IEEE `>=` on identically-computed values.
  *  - `knn_graph_stats`: the k=3 mutual-kNN graph census per cell — out-
  *    edges from exact within-cell cosine top-k (rank window, ties by
  *    neighbor id), mutual-pair and isolated-vector counts. The kNN-graph
  *    degree/reciprocity read is the standard pre-flight for graph-based
  *    semantic dedup (mutual-kNN clustering).
  *  - `runs_test`: Wald–Wolfowitz runs test on the up/down sequence of
  *    daily revenue — runs count R vs its exact expectation
  *    1 + 2·n1·n2/(n1+n2) in milli-units; all integer (the classic
  *    randomness screen before trusting any trend read).
  *  - `page_hinkley_drift`: the Page–Hinkley sequential drift detector
  *    over daily revenue — cumulative deviation from the RUNNING mean
  *    (integer division, exact), running minimum, alarm when the gap
  *    exceeds λ = 40 global-mean days of revenue (the multiplier keeps the
  *    alarm rate informative on a trending series; classic PH with δ=0). The batch twin of the
  *    streaming drift monitors (volume_anomaly's sequential cousin);
  *    calendar-bounded series, so the ordered window is small by design.
  */
object Queries162 extends QuerySet {
  private val Eps = 0.2 // cosine neighborhood radius (dbscan_core)
  private val MinNbrs = 2 // core ⇔ ≥ 2 neighbors within eps
  private val K = 3 // knn_graph_stats out-degree
  private val DayUs = 86400000000L

  /** Corpus-adaptive cell count: ~32 vectors per cell keeps the within-cell
    * quadratic term CONSTANT per cell as the corpus grows (semdedup's
    * `greatest(k0, N/target)` convention) — the probe-visible difference
    * between blocked-quadratic and linear scaling. */
  private[queries] def nCells(sp: SparkSession, dir: String): Long =
    math.max(16L, Tables.embeddings(sp, dir).count() / 32L)

  private[queries] def nCellsSql = "(SELECT greatest(16, count(*) // 32) FROM embeddings)"

  /** vec_id → (embedding, nrm, cell) under the ann_ivf first-k centroid
    * assignment (collected centroid literals: a narrow projection, no join;
    * k is corpus-adaptive, see [[nCells]]). */
  private[queries] def cellAssign(sp: SparkSession, dir: String): DataFrame = {
    val embT = Tables.embeddings(sp, dir)
    val cents: Seq[(Long, Seq[Double], Double)] = embT
      .filter(col("vec_id") < nCells(sp, dir)).orderBy("vec_id")
      .select(col("vec_id"), col("embedding"))
      .collect().toSeq
      .map { r =>
        val cv = r.getSeq[Float](1).map(_.toDouble).toSeq
        (r.getLong(0), cv, math.sqrt(cv.foldLeft(0.0)((a, x) => a + x * x)))
      }
    embT.select(col("vec_id"), col("embedding"), SimF.norm(col("embedding")).as("nrm"))
      .withColumn("cell", SimF.argmaxCell(col("embedding"), col("nrm"), cents))
  }

  /** Within-cell candidate pairs (id_a < id_b) with exact left-fold cosine. */
  private[queries] def cellPairs(assign: DataFrame): DataFrame = {
    val a = assign.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("va"), col("nrm").as("na"))
    val b = assign.select(col("cell"), col("vec_id").as("id_b"),
      col("embedding").as("vb"), col("nrm").as("nb"))
    a.join(b, "cell").filter(col("id_a") < col("id_b"))
      .withColumn("cos", SimF.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .select("cell", "id_a", "id_b", "cos")
  }

  // shared DuckDB prefix: e (embeddings + norm), cent, assign — the ann_ivf
  // assignment CTEs verbatim; pairs = within-cell candidates with cosine
  private def dotSql(a: String, b: String): String = Queries3.dotSqlShared(a, b)
  private[queries] def AssignCte =
    s"""e AS (
       |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |), cent AS (
       |  SELECT vec_id AS cid, embedding AS cv, nrm AS cn FROM e
       |  WHERE vec_id < $nCellsSql
       |), assign AS (
       |  SELECT vec_id, embedding, nrm, cid AS cell
       |  FROM (
       |    SELECT e.*, cent.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${dotSql("e.embedding", "cent.cv")} / (e.nrm * cent.cn) DESC, cent.cid) AS rk
       |    FROM e, cent
       |  ) t WHERE rk = 1
       |), pairs AS (
       |  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
       |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |)""".stripMargin

  val defs: Map[String, Q] = Map(
    "dbscan_core" -> { (sp, dir) =>
      val assign = graft.util.CacheScope.track(cellAssign(sp, dir))
      val pairs = graft.util.CacheScope.track(cellPairs(assign).filter(col("cos") >= Eps))
      val nbrs = pairs.select(col("id_a").as("id"), col("id_b").as("nb"))
        .union(pairs.select(col("id_b").as("id"), col("id_a").as("nb")))
      val counts = nbrs.groupBy("id").agg(count(lit(1)).as("n_nb"))
      val core = counts.filter(col("n_nb") >= MinNbrs).select(col("id"))
      val borderIds = nbrs.join(core.withColumnRenamed("id", "nb"), "nb")
        .select("id").distinct()
        .join(core, Seq("id"), "left_anti")
      val vecs = assign.select(col("cell"), col("vec_id").as("id"))
        .join(core.withColumn("is_core", lit(1L)), Seq("id"), "left")
        .join(borderIds.withColumn("is_border", lit(1L)), Seq("id"), "left")
      vecs.groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"),
          sum(coalesce(col("is_core"), lit(0L))).as("n_core"),
          sum(coalesce(col("is_border"), lit(0L))).as("n_border"),
          sum(when(col("is_core").isNull && col("is_border").isNull, 1L)
            .otherwise(0L)).as("n_noise"))
        .orderBy("cell")
    },

    "knn_graph_stats" -> { (sp, dir) =>
      val assign = graft.util.CacheScope.track(cellAssign(sp, dir))
      val pairs = cellPairs(assign)
      val directed = pairs.select(col("cell"), col("id_a").as("qid"), col("id_b").as("nid"), col("cos"))
        .union(pairs.select(col("cell"), col("id_b").as("qid"), col("id_a").as("nid"), col("cos")))
      val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      val edges = graft.util.CacheScope.track(
        directed.withColumn("rk", row_number().over(wTop)).filter(col("rk") <= K)
          .select("cell", "qid", "nid"))
      val mutual = edges.as("x")
        .join(edges.as("y"),
          col("x.qid") === col("y.nid") && col("x.nid") === col("y.qid"))
        .filter(col("x.qid") < col("x.nid"))
        .groupBy(col("x.cell").as("cell")).agg(count(lit(1)).as("n_mutual_pairs"))
      val outDeg = edges.groupBy("cell").agg(count(lit(1)).as("n_edges"))
      val iso = assign.select(col("cell"), col("vec_id").as("qid"))
        .join(edges.select("qid").distinct(), Seq("qid"), "left_anti")
        .groupBy("cell").agg(count(lit(1)).as("n_isolated"))
      assign.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
        .join(outDeg, Seq("cell"), "left")
        .join(mutual, Seq("cell"), "left")
        .join(iso, Seq("cell"), "left")
        .select(col("cell"), col("n_vecs"),
          coalesce(col("n_edges"), lit(0L)).as("n_edges"),
          coalesce(col("n_mutual_pairs"), lit(0L)).as("n_mutual_pairs"),
          coalesce(col("n_isolated"), lit(0L)).as("n_isolated"))
        .orderBy("cell")
    },

    "runs_test" -> { (sp, dir) =>
      val w = Window.orderBy("day")
      val daily = Tables.orders(sp, dir)
        .groupBy(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev"))
      val moves = daily
        .withColumn("prev", lag("rev", 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("up", when(col("rev") >= col("prev"), 1L).otherwise(0L))
        .withColumn("new_run",
          when(lag("up", 1).over(w).isNull || col("up") =!= lag("up", 1).over(w), 1L)
            .otherwise(0L))
      moves.agg(sum("up").as("n_up"),
          sum(expr("1 - up")).as("n_down"),
          sum("new_run").as("runs"))
        .withColumn("e_runs_milli",
          expr("1000 + 2000 * n_up * n_down div (n_up + n_down)"))
    },

    "page_hinkley_drift" -> { (sp, dir) =>
      val w = Window.orderBy("day")
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val daily = Tables.orders(sp, dir)
        .groupBy(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev"))
      val gmean = daily.agg(expr("40 * (sum(rev) div count(1))").as("lambda"))
      val ph = daily
        .withColumn("i", row_number().over(w))
        .withColumn("cumrev", sum("rev").over(cum))
        .withColumn("dev", col("rev") - expr("cumrev div i"))
        .withColumn("m_t", sum("dev").over(cum))
        .withColumn("min_m", min("m_t").over(cum))
        .withColumn("gap", col("m_t") - col("min_m"))
      ph.crossJoin(broadcast(gmean))
        .agg(count(lit(1)).as("n_days"),
          max("gap").as("max_gap"),
          first(col("lambda")).as("lambda"),
          sum(when(col("gap") > col("lambda"), 1L).otherwise(0L)).as("n_alarm_days"))
        .select("n_days", "max_gap", "lambda", "n_alarm_days")
    }
  )

  // ---- DuckDB twins ----

  private val DailySql =
    s"""SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS day,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
       |  FROM orders GROUP BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "dbscan_core" ->
      s"""WITH $AssignCte,
         |nb AS (
         |  SELECT id_a AS id, id_b AS nb FROM pairs WHERE cos >= $Eps
         |  UNION ALL
         |  SELECT id_b AS id, id_a AS nb FROM pairs WHERE cos >= $Eps),
         |cnts AS (SELECT id, count(*) AS n_nb FROM nb GROUP BY id),
         |core AS (SELECT id FROM cnts WHERE n_nb >= $MinNbrs),
         |border AS (
         |  SELECT DISTINCT nb.id FROM nb JOIN core ON core.id = nb.nb
         |  WHERE nb.id NOT IN (SELECT id FROM core))
         |SELECT assign.cell, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(CASE WHEN core.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_core,
         |  CAST(sum(CASE WHEN border.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_border,
         |  CAST(sum(CASE WHEN core.id IS NULL AND border.id IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_noise
         |FROM assign
         |LEFT JOIN core ON core.id = assign.vec_id
         |LEFT JOIN border ON border.id = assign.vec_id
         |GROUP BY assign.cell ORDER BY assign.cell""".stripMargin,

    "knn_graph_stats" ->
      s"""WITH $AssignCte,
         |directed AS (
         |  SELECT cell, id_a AS qid, id_b AS nid, cos FROM pairs
         |  UNION ALL
         |  SELECT cell, id_b AS qid, id_a AS nid, cos FROM pairs),
         |edges AS (
         |  SELECT cell, qid, nid FROM (
         |    SELECT cell, qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |    FROM directed) t WHERE rk <= $K),
         |mutual AS (
         |  SELECT x.cell, count(*) AS n_mutual_pairs
         |  FROM edges x JOIN edges y ON x.qid = y.nid AND x.nid = y.qid
         |  WHERE x.qid < x.nid GROUP BY x.cell),
         |outdeg AS (SELECT cell, count(*) AS n_edges FROM edges GROUP BY cell),
         |iso AS (
         |  SELECT cell, count(*) AS n_isolated FROM assign
         |  WHERE vec_id NOT IN (SELECT qid FROM edges) GROUP BY cell)
         |SELECT a.cell, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(coalesce(any_value(outdeg.n_edges), 0) AS BIGINT) AS n_edges,
         |  CAST(coalesce(any_value(mutual.n_mutual_pairs), 0) AS BIGINT) AS n_mutual_pairs,
         |  CAST(coalesce(any_value(iso.n_isolated), 0) AS BIGINT) AS n_isolated
         |FROM assign a
         |LEFT JOIN outdeg ON outdeg.cell = a.cell
         |LEFT JOIN mutual ON mutual.cell = a.cell
         |LEFT JOIN iso ON iso.cell = a.cell
         |GROUP BY a.cell ORDER BY a.cell""".stripMargin,

    "runs_test" ->
      s"""WITH daily AS ($DailySql),
         |moves AS (
         |  SELECT CASE WHEN rev >= prev THEN 1 ELSE 0 END AS up, day
         |  FROM (SELECT day, rev, lag(rev) OVER (ORDER BY day) AS prev FROM daily) t
         |  WHERE prev IS NOT NULL),
         |runs AS (
         |  SELECT up,
         |    CASE WHEN lag(up) OVER (ORDER BY day) IS NULL
         |           OR up <> lag(up) OVER (ORDER BY day) THEN 1 ELSE 0 END AS new_run
         |  FROM moves)
         |SELECT CAST(sum(up) AS BIGINT) AS n_up,
         |  CAST(sum(1 - up) AS BIGINT) AS n_down,
         |  CAST(sum(new_run) AS BIGINT) AS runs,
         |  CAST(1000 + 2000 * sum(up) * sum(1 - up) // (sum(up) + sum(1 - up)) AS BIGINT)
         |    AS e_runs_milli
         |FROM runs""".stripMargin,

    "page_hinkley_drift" ->
      s"""WITH daily AS ($DailySql),
         |ph AS (
         |  SELECT rev,
         |    rev - (sum(rev) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
         |      // (row_number() OVER (ORDER BY day))) AS dev,
         |    day
         |  FROM daily),
         |walk AS (
         |  SELECT day, sum(dev) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS m_t
         |  FROM ph),
         |gaps AS (
         |  SELECT m_t - min(m_t) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS gap
         |  FROM walk),
         |lam AS (SELECT 40 * (sum(rev) // count(*)) AS lambda FROM daily)
         |SELECT CAST(count(*) AS BIGINT) AS n_days,
         |  CAST(max(gap) AS BIGINT) AS max_gap,
         |  CAST(any_value(lambda) AS BIGINT) AS lambda,
         |  CAST(sum(CASE WHEN gap > lambda THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_days
         |FROM gaps, lam""".stripMargin
  )
}
