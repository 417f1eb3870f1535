package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.IpF
import graft.operators.IntervalJoin

/** Round-9 batch #63 — the native interval-join plan:
  *
  *  - `interval_join_native`: the geo IP lookup through the custom
  *    [[graft.plans.IntervalJoinPlan]] LogicalPlan + SparkStrategy +
  *    SparkPlan — the interval dim collected once, sorted, broadcast,
  *    and every probe row binary-searches it in O(log |ranges|) inside
  *    one narrow map (no BroadcastNestedLoopJoin, no RangeJoin bucket
  *    tuning, no fan-out rows). Pinned VERBATIM to `ip_geo_lookup`'s
  *    oracle — same rows, third physical plan for the same semantics
  *    (closed-form / bucketed-equi-join / native binary search). */
object Queries143 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "interval_join_native" -> { (sp, dir) =>
      import sp.implicits._
      val ranges = Queries2.GeoCountries.zipWithIndex
        .map { case (cc, i) =>
          (i * Queries2.BlockWidth, i * Queries2.BlockWidth + Queries2.BlockWidth - 1, cc)
        }
        .toDF("lo", "hi", "geo_country")
      val facts = Queries2.raw(sp, dir).withColumn("ipnum", IpF.ipv4ToLong(col("ip")))
      IntervalJoin.leftJoinNative(facts, "ipnum", ranges, "lo", "hi", Seq("geo_country"))
        .select(col("event_id"), col("ipnum"), col("geo_country"))
        .orderBy("event_id")
    }
  )

  val oracles: Map[String, String] = Map(
    // pinned VERBATIM: third physical plan, same bits
    "interval_join_native" -> Queries2.oracles("ip_geo_lookup")
  )
}
