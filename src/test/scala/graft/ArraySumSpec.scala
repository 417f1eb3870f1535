package graft

import org.apache.spark.sql.functions._

import graft.plans.GraftFunctions

/** The elementwise array-sum aggregate's contract: partitioning
  * invariance, null handling, ragged-input fail-fast, SQL surface. */
class ArraySumSpec extends SparkSpec {

  test("partitioning-invariant elementwise sums, nulls skipped") {
    import spark.implicits._
    val rows = (0 until 1000).map(i => (i % 4, Seq(i.toLong, 2L * i, -i.toLong)))
    def run(parts: Int) =
      rows.toDF("g", "a").repartition(parts)
        .groupBy("g").agg(GraftFunctions.arraySum(col("a")).as("s"))
        .collect().map(r => (r.getInt(0), r.getSeq[Long](1).toSeq)).toMap
    val expect = rows.groupBy(_._1).view.mapValues { vs =>
      Seq(vs.map(_._2(0)).sum, vs.map(_._2(1)).sum, vs.map(_._2(2)).sum)
    }.toMap
    assert(run(1) == expect)
    assert(run(13) == expect)
    // nulls are skipped, not zero-lengthed
    val withNull = rows.toDF("g", "a")
      .withColumn("a", when(col("g") === 0 && col("a")(0) < 10, lit(null)).otherwise(col("a")))
    val got = withNull.groupBy("g").agg(GraftFunctions.arraySum(col("a")).as("s"))
      .filter(col("g") === 1).collect().head.getSeq[Long](1).toSeq
    assert(got == expect(1))
  }

  test("ragged arrays fail fast") {
    import spark.implicits._
    val bad = Seq(Seq(1L, 2L), Seq(1L, 2L, 3L)).toDF("a")
    val e = intercept[Exception] {
      bad.agg(GraftFunctions.arraySum(col("a"))).collect()
    }
    assert(e.getMessage != null)
  }

  test("SQL surface: graft_array_sum") {
    GraftFunctions.install(spark)
    import spark.implicits._
    Seq(Seq(1L, 10L), Seq(2L, 20L), Seq(3L, 30L)).toDF("a")
      .createOrReplaceTempView("as_t")
    val s = spark.sql("SELECT graft_array_sum(a) AS s FROM as_t")
      .collect().head.getSeq[Long](0).toSeq
    assert(s == Seq(6L, 60L))
  }
}
