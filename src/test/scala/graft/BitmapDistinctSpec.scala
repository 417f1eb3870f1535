package graft

import org.apache.spark.sql.functions._

import graft.plans.{BitmapDistinct, BitmapState, GraftFunctions}

/** The native bitmap aggregate's contract: exact equality with
  * count(DISTINCT), partitioning invariance (the merge path), the
  * sparse/dense serde round-trip, and the SQL registration. */
class BitmapDistinctSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("equals count(DISTINCT) on every (event_type, day) group") {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), expr("ts_us div 86400000000").as("day"), col("user_id"))
    val got = ev.groupBy("event_type", "day")
      .agg(GraftFunctions.bitmapDistinct(col("user_id")).as("n"))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    val want = ev.groupBy("event_type", "day")
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("partitioning-invariant: 1 vs 17 partitions, negatives and wide range") {
    import spark.implicits._
    val vals = (0L until 5000L).map(i => (i % 7, i % 913 - 456 + i % 3 * (1L << 40)))
    val df1 = vals.toDF("g", "v").repartition(1)
    val df17 = vals.toDF("g", "v").repartition(17)
    def run(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").agg(GraftFunctions.bitmapDistinct(col("v")).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expect = vals.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    assert(run(df1) == expect)
    assert(run(df17) == expect)
  }

  test("serde round-trips sparse and dense containers") {
    val agg = BitmapDistinct(org.apache.spark.sql.catalyst.expressions.Literal(1L))
    val s = new BitmapState
    // sparse container: 3 scattered bits; dense container: a full 64k range
    Seq(5L, 900L, 65000L).foreach(s.add)
    (1L << 20 until (1L << 20) + 65536L).foreach(s.add)
    // negative-key container
    Seq(-1L, -65536L, -2L).foreach(s.add)
    val before = s.cardinality
    val back = agg.deserialize(agg.serialize(s))
    assert(back.cardinality == before)
    assert(before == 3L + 65536L + 3L)
    // merge is a union: self-merge changes nothing, disjoint merge adds
    back.mergeIn(s)
    assert(back.cardinality == before)
    val other = new BitmapState
    other.add(7L) // new bit in the existing sparse container
    back.mergeIn(other)
    assert(back.cardinality == before + 1)
  }

  test("sparse/dense break-even: 455..818 set words serialize sparse (and round-trip)") {
    val agg = BitmapDistinct(org.apache.spark.sql.catalyst.expressions.Literal(1L))
    // one bit in each of 600 distinct words of a single container: sparse
    // costs 2 + 10*600 = 6002 B vs dense 8192 B — the r9 code shipped this
    // dense; the break-even constant keeps it sparse through nz = 818
    val s = new BitmapState
    (0 until 600).foreach(w => s.add((3L << 16) + w * 64L))
    val blob = agg.serialize(s)
    // 4B count + 8B key + 1B mode + sparse body; dense would be ≥ 8201 B
    assert(blob.length == 4 + 8 + 1 + 2 + 10 * 600, s"expected sparse wire size, got ${blob.length}")
    assert(agg.deserialize(blob).cardinality == 600L)
    // just past break-even: 819 words must go dense
    val d = new BitmapState
    (0 until 819).foreach(w => d.add((4L << 16) + w * 64L))
    val dblob = agg.serialize(d)
    assert(dblob.length == 4 + 8 + 1 + 8192, s"expected dense wire size, got ${dblob.length}")
    assert(agg.deserialize(dblob).cardinality == 819L)
  }

  test("plan shape: ONE exchange where count(DISTINCT) plans two") {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), expr("ts_us div 86400000000").as("day"), col("user_id"))
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    val bitmap = ev.groupBy("event_type", "day")
      .agg(GraftFunctions.bitmapDistinct(col("user_id")).as("n"))
    val expand = ev.groupBy("event_type", "day")
      .agg(countDistinct(col("user_id")).as("n"))
    assert(exchanges(bitmap) == 1, "bitmap partials: one group-keyed shuffle")
    assert(exchanges(expand) == 2, "count(DISTINCT): dedup shuffle + count shuffle")
  }

  test("SQL surface: graft_bitmap_distinct via spark.sql") {
    GraftFunctions.install(spark)
    import spark.implicits._
    Seq(1L, 2L, 2L, 3L, 3L, 3L).toDF("v").createOrReplaceTempView("bd_t")
    val n = spark.sql("SELECT graft_bitmap_distinct(v) AS n FROM bd_t").collect().head.getLong(0)
    assert(n == 3L)
  }
}
