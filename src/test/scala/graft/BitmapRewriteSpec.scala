package graft

import org.apache.spark.sql.functions._

import graft.plans.GraftFunctions

/** The count(DISTINCT bigint) → BitmapDistinct optimizer rule: fires only
  * under the conf flag, produces the one-Exchange plan, never changes
  * results, and leaves ineligible aggregates alone. Plus the fold-leakage
  * audit's zero-leak guarantee. */
class BitmapRewriteSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def base = Tables.events(spark, dir)
    .select(col("event_type"), expr("ts_us div 86400000000").as("day"), col("user_id"))

  private def q = base.groupBy("event_type", "day")
    .agg(countDistinct(col("user_id")).as("n"))

  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length

  test("rule fires under the flag: bitmap aggregate, ONE exchange, same rows") {
    GraftFunctions.install(spark)
    val off = q.collect().map(_.toSeq).toSet
    spark.conf.set("spark.graft.rewriteCountDistinct", "true")
    try {
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("graft_bitmap_distinct"), "rewrite must land in the physical plan")
      assert(exchanges(q) == 1, "rewritten plan: one group-keyed shuffle")
      assert(q.collect().map(_.toSeq).toSet == off, "rewrite must not change results")
    } finally spark.conf.unset("spark.graft.rewriteCountDistinct")
    // flag off: the standard expand plan, two exchanges, no bitmap
    val planOff = q.queryExecution.executedPlan.toString
    assert(!planOff.contains("graft_bitmap_distinct"))
    assert(exchanges(q) == 2)
  }

  test("ineligible shapes keep Spark's path: strings, FILTER clauses") {
    GraftFunctions.install(spark)
    spark.conf.set("spark.graft.rewriteCountDistinct", "true")
    try {
      val s = base.groupBy("day").agg(countDistinct(col("event_type")).as("n"))
      assert(!s.queryExecution.executedPlan.toString.contains("graft_bitmap_distinct"),
        "string column must not rewrite")
      val f = base.groupBy("day").agg(
        count_distinct(col("user_id")).as("n"),
        sum(col("user_id")).as("s"))
      // mixed distinct + plain aggregates still rewrite the distinct one
      assert(f.queryExecution.executedPlan.toString.contains("graft_bitmap_distinct"))
      assert(f.collect().map(_.toSeq).toSet ==
        { spark.conf.unset("spark.graft.rewriteCountDistinct")
          val want = base.groupBy("day").agg(
            count_distinct(col("user_id")).as("n"), sum(col("user_id")).as("s"))
            .collect().map(_.toSeq).toSet
          spark.conf.set("spark.graft.rewriteCountDistinct", "true")
          want })
    } finally spark.conf.unset("spark.graft.rewriteCountDistinct")
  }

  test("count_distinct_rewrite query == bitmap_distinct row-for-row; flag restored") {
    val a = SparkEntry.queries("count_distinct_rewrite")(spark, dir).collect().map(_.toSeq).toSeq
    assert(spark.conf.getOption("spark.graft.rewriteCountDistinct").isEmpty,
      "the query must restore the conf")
    val b = SparkEntry.queries("bitmap_distinct")(spark, dir).collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("fold_leakage_audit: cluster-hash policy leaks ZERO pairs, doc-hash leaks") {
    val rows = SparkEntry.queries("fold_leakage_audit")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val (np, clusterX, clusterMilli) = rows("cluster_hash")
    assert(np > 0)
    assert(clusterX == 0L && clusterMilli == 0L,
      "same component => same fold => zero cross-fold pairs")
    val (np2, docX, docMilli) = rows("doc_hash")
    assert(np2 == np)
    assert(docX > 0L, "independent doc hashing must scatter some near-dup pair")
    assert(docMilli == docX * 1000 / np)
  }
}
