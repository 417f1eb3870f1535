package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.IntIdioms.nearestRank

/** Round-9 batch #51 — community quality + distribution reporting:
  *
  *  - `graph_modularity`: Newman modularity of the dup-graph partition
  *    induced by connected components — the community-quality number
  *    that says whether the minhash clusters are denser than chance:
  *    Q = Σ_c [ m_c/m − (d_c/2m)² ]. Per-community contributions in
  *    exact micro (positive-operand integer divisions spelled
  *    identically on both engines); edges/labels reuse
  *    `Queries6.minhashPairs` and the ConnectedComponents operator —
  *    the DuckDB twin reuses `MinhashPairsCteSql` + the recursive-reach
  *    labels. For a CC partition every edge is intra-community, so
  *    Σ m_c = m and Q = 1 − Σ(d_c/2m)² — the spec pins that identity.
  *  - `boxplot_report`: the per-brand Tukey five-number summary over
  *    lineitem price cents — exact nearest-rank quartiles (the
  *    `ltv_quantiles` rank convention), IQR fences at ±1.5·IQR in
  *    integer arithmetic, and the per-brand outlier count from ONE
  *    join-back pass. Brand-partitioned rank windows; nothing global. */
object Queries131 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "graph_modularity" -> { (sp, dir) =>
      val pairs = graft.util.CacheScope.track(
        Queries6.minhashPairs(sp, dir).select(col("id_a"), col("id_b")))
      val labels = graft.operators.ConnectedComponents
        .run(pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
        .select(col("id"), col("comp"))
      val m = pairs.agg(count(lit(1)).as("m"))
      val sym = pairs.select(col("id_a").as("node"))
        .unionAll(pairs.select(col("id_b").as("node")))
      val deg = sym.groupBy("node").agg(count(lit(1)).as("deg"))
      val comm = labels.join(deg, col("id") === col("node"))
        .groupBy(col("comp").as("community"))
        .agg(count(lit(1)).as("n_nodes"), sum("deg").as("degree_sum"))
      val intra = pairs.join(labels.withColumnRenamed("id", "id_a"), Seq("id_a"))
        .groupBy(col("comp").as("community"))
        .agg(count(lit(1)).as("intra_edges"))
      comm.join(intra, Seq("community")).crossJoin(broadcast(m))
        .select(col("community"), col("n_nodes"), col("intra_edges"),
          col("degree_sum"),
          expr("intra_edges * 1000000 div m - degree_sum * degree_sum * 1000000 div (4 * m * m)")
            .as("contrib_micro"))
        .orderBy("community")
    },

    "boxplot_report" -> { (sp, dir) =>
      val vals = Tables.lineitem(sp, dir)
        .join(broadcast(Tables.part(sp, dir).select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          round(col("l_extendedprice") * 100).cast("bigint").as("cents"))
      val valsC = graft.util.CacheScope.track(vals)
      val w = Window.partitionBy("brand").orderBy("cents")
      val stats = valsC
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("brand")))
        .groupBy("brand")
        .agg(max("n").as("n"), min("cents").as("min_cents"),
          nearestRank(25, col("cents")).as("q1_cents"),
          nearestRank(50, col("cents")).as("med_cents"),
          nearestRank(75, col("cents")).as("q3_cents"),
          max("cents").as("max_cents"))
        .withColumn("lo_fence", expr("q1_cents - (3 * (q3_cents - q1_cents)) div 2"))
        .withColumn("hi_fence", expr("q3_cents + (3 * (q3_cents - q1_cents)) div 2"))
      valsC.join(broadcast(stats), Seq("brand"))
        .groupBy("brand")
        .agg(max("n").as("n"), max("min_cents").as("min_cents"),
          max("q1_cents").as("q1_cents"), max("med_cents").as("med_cents"),
          max("q3_cents").as("q3_cents"), max("max_cents").as("max_cents"),
          max("lo_fence").as("lo_fence"), max("hi_fence").as("hi_fence"),
          sum(when(col("cents") < col("lo_fence")
            || col("cents") > col("hi_fence"), 1L).otherwise(0L)).as("n_outliers"))
        .orderBy("brand")
    }
  )

  val oracles: Map[String, String] = Map(
    "graph_modularity" ->
      s"""WITH RECURSIVE ${Queries6.MinhashPairsCteSql},
         |edges AS (
         |  SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |),
         |reach(id, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.id
         |),
         |members AS (SELECT min(r) AS component, id FROM reach GROUP BY id),
         |mtot AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
         |deg AS (SELECT s AS node, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY s),
         |comm AS (
         |  SELECT mb.component AS community, CAST(count(*) AS BIGINT) AS n_nodes,
         |    CAST(sum(d.deg) AS BIGINT) AS degree_sum
         |  FROM members mb JOIN deg d ON d.node = mb.id GROUP BY 1
         |),
         |intra AS (
         |  SELECT mb.component AS community, CAST(count(*) AS BIGINT) AS intra_edges
         |  FROM pairs p JOIN members mb ON mb.id = p.id_a GROUP BY 1
         |)
         |SELECT c.community, c.n_nodes, i.intra_edges, c.degree_sum,
         |  CAST(i.intra_edges * 1000000 // mtot.m
         |    - c.degree_sum * c.degree_sum * 1000000 // (4 * mtot.m * mtot.m) AS BIGINT)
         |    AS contrib_micro
         |FROM comm c JOIN intra i USING (community), mtot
         |ORDER BY c.community""".stripMargin,

    "boxplot_report" ->
      s"""WITH vals AS (
         |  SELECT p.p_brand AS brand,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
         |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         |),
         |ranked AS (
         |  SELECT brand, cents,
         |    row_number() OVER (PARTITION BY brand ORDER BY cents) AS rk,
         |    count(*) OVER (PARTITION BY brand) AS n
         |  FROM vals
         |),
         |stats AS (
         |  SELECT brand, CAST(max(n) AS BIGINT) AS n,
         |    min(cents) AS min_cents,
         |    max(CASE WHEN rk = 1 + (25 * (n - 1)) // 100 THEN cents END) AS q1_cents,
         |    max(CASE WHEN rk = 1 + (50 * (n - 1)) // 100 THEN cents END) AS med_cents,
         |    max(CASE WHEN rk = 1 + (75 * (n - 1)) // 100 THEN cents END) AS q3_cents,
         |    max(cents) AS max_cents
         |  FROM ranked GROUP BY brand
         |),
         |fenced AS (
         |  SELECT *, q1_cents - (3 * (q3_cents - q1_cents)) // 2 AS lo_fence,
         |    q3_cents + (3 * (q3_cents - q1_cents)) // 2 AS hi_fence
         |  FROM stats
         |)
         |SELECT f.brand, f.n, f.min_cents, f.q1_cents, f.med_cents, f.q3_cents,
         |  f.max_cents, f.lo_fence, f.hi_fence,
         |  CAST(sum(CASE WHEN v.cents < f.lo_fence OR v.cents > f.hi_fence
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         |FROM fenced f JOIN vals v ON v.brand = f.brand
         |GROUP BY f.brand, f.n, f.min_cents, f.q1_cents, f.med_cents, f.q3_cents,
         |  f.max_cents, f.lo_fence, f.hi_fence
         |ORDER BY f.brand""".stripMargin
  )
}
