package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-14 batch #5 — graph/text structure metrics:
  *
  *  - `clustering_coefficient`: global transitivity (3·triangles/wedges)
  *    and mean LOCAL coefficient of the MinHash duplicate graph — how
  *    clique-like near-dup neighborhoods are (transitive template families
  *    vs star-shaped boilerplate). Reuses the degree-oriented wedge-closure
  *    join of `triangle_count` (each edge probed exactly once), plus one
  *    bounded degree rollup.
  *  - `hubness_audit`: in-degree histogram of the directed within-cell
  *    kNN graph (`knn_graph_stats`' K=3 edges) — hub vectors that appear in
  *    everyone's top-k are the classic high-dim ANN pathology; zero
  *    in-degree rows counted via one anti-join.
  *  - `sentence_length_dist`: corpus sentence-length profile by language
  *    ([.!?]+ splits, alnum-run word counts, fixed buckets) — the
  *    chunking-granularity planner's input. One scan + explode, bounded
  *    output.
  */
object Queries190 extends QuerySet {
  private val KnnK = 3 // same out-degree as knn_graph_stats

  val defs: Map[String, Q] = Map(
    "clustering_coefficient" -> { (sp, dir) =>
      val pairs = graft.util.CacheScope.track(Queries6.minhashPairs(sp, dir))
      pairs.count() // materialized once: degrees, orientation, closure, |E|
      val deg = graft.util.CacheScope.track(
        Queries25.symEdges(pairs).groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg")))
      val withDeg = pairs
        .join(deg.select(col("node").as("id_a"), col("deg").as("da")), Seq("id_a"))
        .join(deg.select(col("node").as("id_b"), col("deg").as("db")), Seq("id_b"))
      val aFirst = col("da") < col("db") || (col("da") === col("db") && col("id_a") < col("id_b"))
      val oriented = graft.util.CacheScope.track(withDeg.select(
        when(aFirst, col("id_a")).otherwise(col("id_b")).as("src"),
        when(aFirst, col("id_b")).otherwise(col("id_a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("ddeg")))
      oriented.count()
      val o1 = oriented.select(col("src"), col("dst").as("v"), col("ddeg").as("vd"))
      val o2 = oriented.select(col("src"), col("dst").as("w"), col("ddeg").as("wd"))
      val tri = o1.join(o2, Seq("src"))
        .filter(col("vd") < col("wd") || (col("vd") === col("wd") && col("v") < col("w")))
        .join(oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
        .select(col("src").as("x"), col("v").as("y"), col("w").as("z"))
      val perNode = tri.select(col("x").as("node"))
        .unionAll(tri.select(col("y").as("node")))
        .unionAll(tri.select(col("z").as("node")))
        .groupBy("node").agg(count(lit(1)).as("n_tri"))
      val loc = deg.filter(col("deg") >= 2)
        .join(perNode, Seq("node"), "left")
        .select(expr("2000 * coalesce(n_tri, 0) div (deg * (deg - 1))").as("lc"))
        .agg(sum("lc").as("sl"), count(lit(1)).as("nl"))
      val wedges = deg.agg(sum(expr("deg * (deg - 1) div 2")).as("n_wedges"),
        count(lit(1)).as("n_nodes"))
      val tcount = tri.agg(count(lit(1)).as("n_triangles"))
      val ecount = pairs.agg(count(lit(1)).as("n_edges"))
      wedges.crossJoin(broadcast(ecount)).crossJoin(broadcast(tcount))
        .crossJoin(broadcast(loc))
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
          expr("3000 * n_triangles div greatest(n_wedges, 1)").as("transitivity_milli"),
          expr("sl div greatest(nl, 1)").as("avg_local_milli"))
    },

    "hubness_audit" -> { (sp, dir) =>
      val assign = graft.util.CacheScope.track(Queries162.cellAssign(sp, dir))
      val pairs = Queries162.cellPairs(assign)
      val directed = pairs.select(col("id_a").as("qid"), col("id_b").as("nid"), col("cos"))
        .union(pairs.select(col("id_b").as("qid"), col("id_a").as("nid"), col("cos")))
      val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      val edges = graft.util.CacheScope.track(
        directed.withColumn("rk", row_number().over(wTop)).filter(col("rk") <= KnnK)
          .select("qid", "nid"))
      val indeg = edges.groupBy(col("nid")).agg(count(lit(1)).as("indeg"))
      val zero = assign.select(col("vec_id").as("nid"))
        .join(indeg.select("nid"), Seq("nid"), "left_anti")
        .agg(count(lit(1)).as("n_vectors")).withColumn("indeg", lit(0L))
        .select("indeg", "n_vectors")
      indeg.groupBy("indeg").agg(count(lit(1)).as("n_vectors"))
        .unionByName(zero)
        .filter(col("n_vectors") > 0)
        .orderBy("indeg")
    },

    "sentence_length_dist" -> { (sp, dir) =>
      Tables.documents(sp, dir)
        .select(col("lang"), explode(split(col("text"), "[.!?]+")).as("s"))
        .withColumn("wc", regexp_count(lower(col("s")), lit("[a-z0-9]+")))
        .filter(col("wc") > 0)
        .withColumn("bucket",
          when(col("wc") < 5, "a_lt5")
            .when(col("wc") < 10, "b_lt10")
            .when(col("wc") < 20, "c_lt20")
            .otherwise("d_ge20"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_sentences"),
          expr("sum(wc) * 1000 div count(1)").as("avg_words_milli"))
        .orderBy("lang", "bucket")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "clustering_coefficient" ->
      s"""WITH ${Queries6.MinhashPairsCteSql},
         |symedges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs
         |),
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM symedges GROUP BY src),
         |oriented AS (
         |  SELECT
         |    CASE WHEN (da.deg, p.id_a) < (db.deg, p.id_b) THEN p.id_a ELSE p.id_b END AS src,
         |    CASE WHEN (da.deg, p.id_a) < (db.deg, p.id_b) THEN p.id_b ELSE p.id_a END AS dst,
         |    CASE WHEN (da.deg, p.id_a) < (db.deg, p.id_b) THEN db.deg ELSE da.deg END AS ddeg
         |  FROM pairs p
         |  JOIN deg da ON da.node = p.id_a
         |  JOIN deg db ON db.node = p.id_b
         |),
         |tri AS (
         |  SELECT o1.src AS x, o1.dst AS y, o2.dst AS z
         |  FROM oriented o1
         |  JOIN oriented o2 ON o1.src = o2.src
         |    AND (o1.ddeg, o1.dst) < (o2.ddeg, o2.dst)
         |  JOIN oriented o3 ON o3.src = o1.dst AND o3.dst = o2.dst
         |),
         |per_node AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
         |    SELECT x AS node FROM tri
         |    UNION ALL SELECT y FROM tri
         |    UNION ALL SELECT z FROM tri) u GROUP BY 1),
         |loc AS (
         |  SELECT CAST(sum(2000 * coalesce(n_tri, 0) // (deg * (deg - 1))) AS BIGINT) AS sl,
         |    CAST(count(*) AS BIGINT) AS nl
         |  FROM deg LEFT JOIN per_node ON per_node.node = deg.node WHERE deg >= 2),
         |w AS (
         |  SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges,
         |    CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
         |tc AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM tri),
         |ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM pairs)
         |SELECT n_nodes, n_edges, n_wedges, n_triangles,
         |  CAST(3000 * n_triangles // greatest(n_wedges, 1) AS BIGINT) AS transitivity_milli,
         |  CAST(sl // greatest(nl, 1) AS BIGINT) AS avg_local_milli
         |FROM w CROSS JOIN ec CROSS JOIN tc CROSS JOIN loc""".stripMargin,

    "hubness_audit" ->
      s"""WITH ${Queries162.AssignCte},
         |directed AS (
         |  SELECT id_a AS qid, id_b AS nid, cos FROM pairs
         |  UNION ALL SELECT id_b, id_a, cos FROM pairs),
         |edges AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |    FROM directed) t WHERE rk <= $KnnK),
         |indeg AS (SELECT nid, CAST(count(*) AS BIGINT) AS indeg FROM edges GROUP BY 1),
         |hist AS (
         |  SELECT indeg, CAST(count(*) AS BIGINT) AS n_vectors FROM indeg GROUP BY 1
         |  UNION ALL
         |  SELECT CAST(0 AS BIGINT) AS indeg, CAST(count(*) AS BIGINT) AS n_vectors
         |  FROM assign WHERE vec_id NOT IN (SELECT nid FROM indeg))
         |SELECT indeg, n_vectors FROM hist WHERE n_vectors > 0 ORDER BY indeg""".stripMargin,

    "sentence_length_dist" ->
      s"""WITH s AS (
         |  SELECT lang, regexp_extract_all(lower(sent), '[a-z0-9]+') AS words
         |  FROM (
         |    SELECT lang, unnest(string_split_regex(text, '[.!?]+')) AS sent
         |    FROM documents) t),
         |wc AS (
         |  SELECT lang, CAST(len(words) AS BIGINT) AS wc FROM s WHERE len(words) > 0)
         |SELECT lang,
         |  CASE WHEN wc < 5 THEN 'a_lt5' WHEN wc < 10 THEN 'b_lt10'
         |       WHEN wc < 20 THEN 'c_lt20' ELSE 'd_ge20' END AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_sentences,
         |  CAST(sum(wc) * 1000 // count(*) AS BIGINT) AS avg_words_milli
         |FROM wc GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin
  )
}
