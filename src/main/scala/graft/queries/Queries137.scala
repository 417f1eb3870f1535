package graft.queries

import org.apache.spark.sql.functions._

/** Round-9 batch #57 — dup-graph trust audits:
  *
  *  - `bridge_edge_audit`: which near-dup edges have NO triangle
  *    support (zero common neighbors)? Those are the risky links in
  *    transitive-closure dedup — one false-positive pair with no
  *    corroborating neighbor chains two unrelated families into one
  *    cluster and the keeper deletes half of them. Per component:
  *    edge count, unsupported-edge count, and the weak share in milli
  *    — the trust certificate for `dedup_cluster`'s closure step.
  *    Reuses graph_jaccard's common-neighbor join (degree-bounded) and
  *    the CC labels.
  *  - `graph_assortativity`: Newman's degree-correlation coefficient r
  *    over the dup graph — do high-degree docs link to high-degree docs
  *    (template hubs, r > 0) or to leaves (star bursts, r < 0)? Exact
  *    integer moments over the symmetric edge list (by symmetry
  *    sx = sy), final Pearson in IEEE-deterministic double, milli. */
object Queries137 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "bridge_edge_audit" -> { (sp, dir) =>
      val pairs = graft.util.CacheScope.track(
        Queries6.minhashPairs(sp, dir).select(col("id_a"), col("id_b")))
      val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      val e1 = sym.select(col("src").as("id_a"), col("dst").as("c"))
      val e2 = sym.select(col("src").as("id_b"), col("dst").as("c"))
      val common = e1.join(e2, Seq("c"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
      val labels = graft.operators.ConnectedComponents
        .run(pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
        .select(col("id").as("id_a"), col("comp"))
      pairs
        .join(common, Seq("id_a", "id_b"), "left")
        .withColumn("weak", when(col("n_common").isNull, 1L).otherwise(0L))
        .join(labels, Seq("id_a"))
        .groupBy(col("comp").as("component"))
        .agg(count(lit(1)).as("n_edges"), sum("weak").as("n_weak"))
        .withColumn("weak_milli", expr("n_weak * 1000 div n_edges"))
        .orderBy("component")
    },

    "graph_assortativity" -> { (sp, dir) =>
      val pairs = graft.util.CacheScope.track(
        Queries6.minhashPairs(sp, dir).select(col("id_a"), col("id_b")))
      val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
      val m = sym
        .join(deg.select(col("node").as("src"), col("deg").as("dx")), Seq("src"))
        .join(deg.select(col("node").as("dst"), col("deg").as("dy")), Seq("dst"))
        .agg(count(lit(1)).as("mm"),
          sum("dx").as("sx"), sum("dy").as("sy"),
          sum(col("dx") * col("dy")).as("sxy"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"))
      m.crossJoin(broadcast(nNodes))
        .select(col("n_nodes"), expr("mm div 2").as("n_edges"),
          expr("CAST(round(1000.0 * (mm * sxy - sx * sy) / " +
            "sqrt(CAST(mm * sxx - sx * sx AS DOUBLE) * " +
            "CAST(mm * syy - sy * sy AS DOUBLE))) AS BIGINT)").as("r_milli"))
    }
  )

  val oracles: Map[String, String] = Map(
    "bridge_edge_audit" ->
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
         |members AS (SELECT min(r) AS comp, id FROM reach GROUP BY id),
         |common AS (
         |  SELECT a.s AS id_a, b.s AS id_b, CAST(count(*) AS BIGINT) AS n_common
         |  FROM edges a JOIN edges b ON a.d = b.d AND a.s < b.s
         |  GROUP BY 1, 2
         |)
         |SELECT m.comp AS component, CAST(count(*) AS BIGINT) AS n_edges,
         |  CAST(sum(CASE WHEN c.n_common IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_weak,
         |  CAST(sum(CASE WHEN c.n_common IS NULL THEN 1 ELSE 0 END) * 1000 // count(*)
         |    AS BIGINT) AS weak_milli
         |FROM pairs p
         |LEFT JOIN common c ON c.id_a = p.id_a AND c.id_b = p.id_b
         |JOIN members m ON m.id = p.id_a
         |GROUP BY m.comp ORDER BY component""".stripMargin,

    "graph_assortativity" ->
      s"""WITH ${Queries6.MinhashPairsCteSql},
         |edges AS (
         |  SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |),
         |deg AS (SELECT s AS node, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY s),
         |mo AS (
         |  SELECT CAST(count(*) AS BIGINT) AS mm,
         |    CAST(sum(da.deg) AS BIGINT) AS sx, CAST(sum(db.deg) AS BIGINT) AS sy,
         |    CAST(sum(da.deg * db.deg) AS BIGINT) AS sxy,
         |    CAST(sum(da.deg * da.deg) AS BIGINT) AS sxx,
         |    CAST(sum(db.deg * db.deg) AS BIGINT) AS syy
         |  FROM edges e
         |  JOIN deg da ON da.node = e.s
         |  JOIN deg db ON db.node = e.d
         |),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
         |SELECT nn.n_nodes, CAST(mo.mm // 2 AS BIGINT) AS n_edges,
         |  CAST(round(1000.0 * (mo.mm * mo.sxy - mo.sx * mo.sy) /
         |    sqrt(CAST(mo.mm * mo.sxx - mo.sx * mo.sx AS DOUBLE) *
         |         CAST(mo.mm * mo.syy - mo.sy * mo.sy AS DOUBLE))) AS BIGINT) AS r_milli
         |FROM mo, nn""".stripMargin
  )
}
