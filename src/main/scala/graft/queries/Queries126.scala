package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.GraftFunctions

/** Round-9 batch #46 — the native-KMV plan shapes. The SQL spelling of a
  * k-minimum-values sketch (`distinct_kmv`, `audience_overlap_kmv`)
  * needs a `distinct` shuffle, then a per-group rank WINDOW, then the
  * k-filter; the native `plans.KmvMinK` TypedImperativeAggregate keeps
  * the k smallest distinct hashes in a sorted ≤(4+8k)-byte buffer —
  * distinctness lives IN the state — so the whole sketch is ONE
  * map-side-combined shuffle, and the evaluated ARRAY<BIGINT> makes
  * sketch set-algebra plain codegen'd array functions on tiny
  * post-aggregation rows.
  *
  *  - `kmv_native`: `distinct_kmv`'s readout via the aggregate, pinned
  *    to the SAME oracle SQL verbatim — the driver hash proves the
  *    one-shuffle plan computes the identical sketch.
  *  - `kmv_overlap_native`: `audience_overlap_kmv`'s theta-sketch
  *    overlap grid with the union-rank window replaced by
  *    `slice(array_sort(array_union(a, b)), 1, k)` over the per-type
  *    sketch arrays (the k smallest of A ∪ B are provably among
  *    KMV(A) ∪ KMV(B)); pinned to the SAME oracle verbatim. The exact
  *    certificate columns still scan the hashed universe — the win is
  *    the sketch path, which never windows.
  */
object Queries126 extends QuerySet {
  import Queries28.{KmvK, HashMod, kmvHashed}

  val defs: Map[String, Q] = Map(
    "kmv_native" -> { (sp, dir) =>
      val hashed = graft.util.CacheScope.track(kmvHashed(Tables.events(sp, dir)))
      val sk = hashed.groupBy("event_type")
        .agg(GraftFunctions.kmvMinK(col("h"), KmvK).as("ks"))
      val exact = hashed.groupBy("event_type")
        .agg(countDistinct(col("h")).as("n_exact"))
      exact.join(sk, Seq("event_type"))
        .withColumn("n_kept", size(col("ks")).cast("bigint"))
        .withColumn("h_k",
          when(col("n_kept") === KmvK, element_at(col("ks"), KmvK)))
        .select(col("event_type"), col("n_exact"), col("n_kept"), col("h_k"),
          when(col("n_kept") < KmvK, col("n_kept"))
            .otherwise(expr(s"((${KmvK} - 1) * ${HashMod}L) div h_k")).as("est_kmv"))
        .orderBy("event_type")
    },

    "kmv_overlap_native" -> { (sp, dir) =>
      val hashed = graft.util.CacheScope.track(
        kmvHashed(Tables.events(sp, dir)).distinct())
      val sizes = hashed.groupBy("event_type").agg(count(lit(1)).as("n"))
      val common = hashed.as("x").join(hashed.as("y"),
        col("x.h") === col("y.h") && col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("c"))
      // ONE aggregate per type; the pair grid is a broadcast self-cross of
      // a |types|-row table and all set algebra is array ops on k elements
      val sk = hashed.groupBy("event_type")
        .agg(GraftFunctions.kmvMinK(col("h"), KmvK).as("ks"))
      val pairs = broadcast(sizes.as("a")).join(broadcast(sizes.as("b")),
          col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"), col("a.n").as("n_a"),
          col("b.event_type").as("type_b"), col("b.n").as("n_b"))
        .join(sk.select(col("event_type").as("type_a"), col("ks").as("ks_a")), Seq("type_a"))
        .join(sk.select(col("event_type").as("type_b"), col("ks").as("ks_b")), Seq("type_b"))
        .withColumn("unionk",
          slice(array_sort(array_union(col("ks_a"), col("ks_b"))), 1, KmvK))
        .withColumn("kmv_k_union", size(col("unionk")).cast("bigint"))
        .withColumn("kmv_matches",
          size(array_intersect(array_intersect(col("unionk"), col("ks_a")),
            col("ks_b"))).cast("bigint"))
      pairs
        .join(common, Seq("type_a", "type_b"), "left")
        .select(col("type_a"), col("type_b"),
          coalesce(col("c"), lit(0L)).as("exact_common"),
          (col("n_a") + col("n_b") - coalesce(col("c"), lit(0L))).as("exact_union"),
          col("kmv_matches"), col("kmv_k_union"))
        .withColumn("jaccard_milli", expr("exact_common * 1000 div exact_union"))
        .withColumn("est_jaccard_milli", expr("kmv_matches * 1000 div kmv_k_union"))
        .withColumn("err_milli", col("est_jaccard_milli") - col("jaccard_milli"))
        .select("type_a", "type_b", "exact_common", "exact_union", "jaccard_milli",
          "kmv_matches", "kmv_k_union", "est_jaccard_milli", "err_milli")
        .orderBy("type_a", "type_b")
    }
  )

  val oracles: Map[String, String] = Map(
    // pinned VERBATIM to the SQL-plan twins: same sketch → same hash
    "kmv_native" -> Queries28.oracles("distinct_kmv"),
    "kmv_overlap_native" -> Queries58.oracles("audience_overlap_kmv")
  )
}
