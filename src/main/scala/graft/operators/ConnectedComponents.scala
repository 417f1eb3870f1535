package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Minimum-label propagation connected components over an undirected edge
  * list — the transitive-closure step a fuzzy-dedup pipeline needs on top
  * of pairwise near-dup candidates (A~B, B~C ⇒ {A,B,C} one cluster, even
  * though A and C never collided directly).
  *
  * Shape per materialized round (ONE driver-synchronized action each):
  *
  *   1. a neighbor-min hop (join edges × labels + min-aggregate — one
  *      shuffle on the node id),
  *   2. a POINTER-JUMP (labels ⨝ labels on comp = id: take my label's
  *      label) — Shiloach–Vishkin-style doubling, so a path of diameter D
  *      converges in O(log D) rounds instead of O(D); near-dup cliques
  *      were already 2-3 rounds, but identity-stitching chains are not,
  *   3. a final neighbor-min hop whose `changed` flag is the convergence
  *      test — sound because a hop fixed point means no edge joins two
  *      labels (any cross-label edge would lower one side), i.e. the
  *      labeling is already component-consistent. The jump only ever
  *      moves a label to another label REACHABLE inside the component
  *      (my comp is in my component; its comp is in its component), so
  *      interleaving it preserves that invariant.
  *
  * Each round's result is materialized with an EAGER localCheckpoint, not
  * just a persist: an iterative DataFrame loop otherwise nests the
  * previous round's LOGICAL plan into the next (×4 per round here — each
  * hop references `labels` twice), and by round 5 the driver spends
  * minutes re-analyzing a 4^5-leaf tree of a trivially small graph
  * (measured: 105 s for round 5 at sf0.1 identity stitching; 1.5 s once
  * cut). The checkpoint truncates the plan to a LogicalRDD over the
  * computed blocks — the standard Spark idiom for iterative graph
  * algorithms. Block cleanup: retired rounds' checkpoint blocks are freed
  * by the ContextCleaner as soon as the loop drops the reference (label
  * tables are |V| rows — small next to the edge cache the caller owns).
  * On a real cluster a reliable `checkpoint(dir)` swaps in for
  * fault-tolerance with the same plan-cutting effect.
  *
  * The driver only ever sees a per-round changed-count — no label data is
  * collected. At 1000-executor scale the same loop runs unchanged: each
  * round is a co-partitioned join on (id), and AQE handles the shrinking
  * actives.
  */
object ConnectedComponents {

  /** @param edges (src, dst) long pairs, undirected (one direction enough)
    * @return (id, component) — component = min node id reachable */
  def run(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // cache the HALF edge list first (one materialization of the upstream
    // candidate-pair pipeline — for dedup clustering that pipeline is the
    // expensive half: signatures, band self-join, verification); the size
    // gate reads one count off it. Below the gate, union-find needs no
    // symmetrization at all (union(a,b) is direction-blind), so the local
    // path skips building and caching the 2× sym table outright (r16 —
    // saves a cache-build + count job per call vs the r15 shape).
    // A caller that pinned its pair set passes a projection of that cache:
    // persisting it again is a no-op, and dropping it would unpersist the
    // CALLER's cache, so the plan it returns would recompute the pair set.
    // Cache and drop only an edge list this call pinned itself.
    val edgeCols = edges.select(col("src"), col("dst"))
    val owned = edgeCols.storageLevel == StorageLevel.NONE
    val half = if (owned) graft.util.CacheScope.track(edgeCols) else edgeCols
    val n = half.count()
    val threshold = edges.sparkSession.conf
      .getOption(LocalEdgeThresholdConf).map(_.toLong)
      .getOrElse(LocalEdgeThresholdDefault)
    val out = if (threshold > 0 && n <= threshold) runLocal(half)
    else {
      val sym = graft.util.CacheScope.track(half
        .union(half.select(col("dst").as("src"), col("src").as("dst"))))
      sym.count()
      val res = runDistributed(sym, maxIter)
      graft.util.CacheScope.drop(sym)
      res
    }
    if (owned) graft.util.CacheScope.drop(half)
    out
  }

  /** Edge count at or below which the component labeling runs as a driver
    * union-find instead of the distributed round loop — the same size-gated
    * strategy switch Spark itself applies to joins (broadcast below
    * `autoBroadcastJoinThreshold`). A near-dup graph after banded candidate
    * generation is routinely TINY relative to the corpus (sf0.1: 256 edges
    * survive the Jaccard gate), yet every distributed round costs a full
    * checkpoint + convergence-count job pair; below the threshold the
    * whole labeling is one bounded collect (≤ threshold rows of two longs),
    * a linear union-find, and a local relation back — bit-identical labels
    * (min reachable id) by construction. Above it, the loop is unchanged.
    * Tunable per session via `spark.graft.cc.localEdgeThreshold`
    * (set 0 to force the distributed path). */
  val LocalEdgeThresholdConf = "spark.graft.cc.localEdgeThreshold"
  val LocalEdgeThresholdDefault = 100000L

  /** Label propagation over a caller-owned, already-MATERIALIZED symmetric
    * edge cache (both directions present) — lets a composition (e.g. the
    * centrality keeper: components + PageRank over the same graph) share
    * ONE edge cache instead of each operator re-symmetrizing and re-caching
    * the pair set. The caller keeps ownership: this method never unpersists
    * `sym`. */
  def runSymmetrized(sym: DataFrame, maxIter: Int = 20): DataFrame = {
    val threshold = sym.sparkSession.conf
      .getOption(LocalEdgeThresholdConf).map(_.toLong)
      .getOrElse(LocalEdgeThresholdDefault)
    // sym is caller-materialized, so this count reads cached blocks; the
    // gate itself costs one cheap action (exactly like a size estimate)
    if (threshold > 0 && sym.count() <= 2 * threshold) return runLocal(sym)
    runDistributed(sym, maxIter)
  }

  /** Bounded-size fast path: collect the (already gate-bounded) edge list
    * — symmetrized or not; union-find is direction-blind — with min-id
    * representatives, return a LocalRelation of (id, comp). Identical
    * output to the fixpoint loop: both assign every node the minimum node
    * id reachable from it. */
  private def runLocal(sym: DataFrame): DataFrame = {
    val spark = sym.sparkSession
    val rows = sym.select(col("src"), col("dst")).collect()
    val idx = new java.util.HashMap[java.lang.Long, java.lang.Integer](rows.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    def nodeOf(v: Long): Int = {
      val got = idx.get(java.lang.Long.valueOf(v))
      if (got != null) got.intValue()
      else {
        val i = ids.length
        idx.put(java.lang.Long.valueOf(v), java.lang.Integer.valueOf(i))
        ids += v
        i
      }
    }
    val parent = new scala.collection.mutable.ArrayBuffer[Int]()
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x))
        x = parent(x)
      }
      x
    }
    rows.foreach { r =>
      val a = nodeOf(r.getLong(0)); val b = nodeOf(r.getLong(1))
      while (parent.length < ids.length) parent += parent.length
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    while (parent.length < ids.length) parent += parent.length
    // min node id per root, then node -> that min
    val minOfRoot = new java.util.HashMap[java.lang.Integer, java.lang.Long]()
    ids.indices.foreach { i =>
      val r = java.lang.Integer.valueOf(find(i))
      val cur = minOfRoot.get(r)
      if (cur == null || ids(i) < cur.longValue()) minOfRoot.put(r, java.lang.Long.valueOf(ids(i)))
    }
    val out = ids.indices.map(i =>
      (ids(i), minOfRoot.get(java.lang.Integer.valueOf(find(i))).longValue()))
    import spark.implicits._
    out.toDF("id", "comp")
  }

  private def runDistributed(sym: DataFrame, maxIter: Int): DataFrame = {
    var cache = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    // one min-label propagation hop: (id, comp) -> (id, comp, changed)
    def hop(labels: DataFrame): DataFrame = {
      val nbrMin = sym.join(labels, sym("dst") === labels("id"))
        .groupBy(sym("src").as("nid")).agg(min("comp").as("nbr_comp"))
      labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
        .select(labels("id"),
          least(labels("comp"), coalesce(col("nbr_comp"), labels("comp"))).as("comp"),
          (coalesce(col("nbr_comp"), labels("comp")) < labels("comp")).as("changed"))
    }
    // pointer jump: (id, comp) -> (id, comp') where comp' = comp's comp.
    // comp is always a node id (init self, then mins of node ids), so the
    // inner join finds every label's own row.
    def jump(labels: DataFrame): DataFrame = {
      val byId = labels.select(col("id").as("cid"), col("comp").as("ccomp"))
      labels.join(byId, labels("comp") === byId("cid"))
        .select(labels("id"), least(labels("comp"), col("ccomp")).as("comp"))
    }
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = hop(jump(hop(cache.select("id", "comp")).select("id", "comp")))
        .localCheckpoint(true) // eager: the one action materializing the round
      converged = next.filter(col("changed")).count() == 0
      cache = next // previous round's checkpoint blocks GC via ContextCleaner
      iter += 1
    }
    cache.select("id", "comp")
  }
}
