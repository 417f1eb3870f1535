package graft

import org.apache.spark.sql.functions._

import graft.plans.{GraftFunctions, KmvState}
import graft.queries.{Queries28, Queries58, Queries126}

/** The native KMV aggregate's contract: in-state distinctness and
  * ordering, partitioning invariance, state merge algebra, the
  * one-Exchange plan shape vs the SQL spelling's distinct+window, and
  * row-for-row agreement with the SQL-plan twins. */
class KmvNativeSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("state: sorted, distinct, capped; merge is a k-min union") {
    val s = new KmvState(4)
    Seq(9L, 3L, 3L, 7L, 1L, 8L, 2L, 9L).foreach(s.add)
    assert(s.toArray.toSeq == Seq(1L, 2L, 3L, 7L))
    val t = new KmvState(4)
    Seq(0L, 2L, 5L).foreach(t.add)
    s.mergeIn(t)
    assert(s.toArray.toSeq == Seq(0L, 1L, 2L, 3L))
    // serde round-trip
    val back = KmvState.deserialize(KmvState.serialize(s))
    assert(back.toArray.toSeq == s.toArray.toSeq && back.k == 4)
  }

  test("aggregate == the distinct+window SQL spelling, any partitioning") {
    import spark.implicits._
    val vals = (0L until 3000L).map(i => (i % 3, (i * 2654435761L) % 1000000007L))
    def native(n: Int) =
      vals.toDF("g", "h").repartition(n).groupBy("g")
        .agg(GraftFunctions.kmvMinK(col("h"), 32).as("ks"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val expect = vals.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.sorted.take(32).toSeq).toMap
    assert(native(1) == expect)
    assert(native(17) == expect)
  }

  test("kmv_native readout matches the distinct_kmv query row-for-row") {
    val a = SparkEntry.queries("kmv_native")(spark, dir).collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("distinct_kmv")(spark, dir).collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("kmv_overlap_native matches audience_overlap_kmv row-for-row") {
    val a = SparkEntry.queries("kmv_overlap_native")(spark, dir).collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("audience_overlap_kmv")(spark, dir).collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("plan shape: ONE exchange; the SQL spelling shuffles for distinct AND window") {
    val hashed = Queries28.kmvHashed(Tables.events(spark, dir))
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    val native = hashed.groupBy("event_type")
      .agg(GraftFunctions.kmvMinK(col("h"), 32).as("ks"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("h")
    val sql = hashed.distinct()
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 32)
    assert(exchanges(native) == 1, "native: one group-keyed shuffle of k-min partials")
    assert(exchanges(sql) >= 2, "SQL spelling: distinct shuffle + window shuffle")
  }

  test("oracle pins: both natives reuse the SQL twins' oracles verbatim") {
    assert(Queries126.oracles("kmv_native") == Queries28.oracles("distinct_kmv"))
    assert(Queries126.oracles("kmv_overlap_native")
      == Queries58.oracles("audience_overlap_kmv"))
  }

  test("SQL surface: graft_kmv_mink via spark.sql") {
    GraftFunctions.install(spark)
    import spark.implicits._
    Seq(5L, 1L, 1L, 9L, 3L, 3L).toDF("v").createOrReplaceTempView("kmv_t")
    val ks = spark.sql("SELECT graft_kmv_mink(v, 3) AS ks FROM kmv_t")
      .collect().head.getSeq[Long](0)
    assert(ks == Seq(1L, 3L, 5L))
  }
}
