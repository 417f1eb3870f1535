package graft

import org.apache.spark.sql.functions._

import graft.plans.{TopKState, GraftFunctions}

/** Robust statistics batch + the native top-k aggregate. */
class Queries158Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("theil_sen_trend: median pair replayed from the daily series; slope = truncated quotient") {
    val rows = SparkEntry.queries("theil_sen_trend")(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    val daily = Tables.orders(spark, dir)
      .groupBy(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1)
    val pairs = for {
      i <- daily.indices
      j <- (i + 1) until daily.length
    } yield (daily(j)._2 - daily(i)._2, daily(j)._1 - daily(i)._1)
    assert(r.getLong(0) == pairs.length.toLong)
    val sorted = pairs.sortBy { case (num, den) => (num.toDouble / den, num, den) }
    val (num, den) = sorted((pairs.length + 1) / 2 - 1)
    assert(r.getLong(1) == num)
    assert(r.getLong(2) == den)
    val slope = if (num >= 0) num / den else -((-num) / den)
    assert(r.getLong(3) == slope)
  }

  test("max_drawdown: replay; drawdown is the max running-peak gap; peak day precedes trough") {
    val rows = SparkEntry.queries("max_drawdown")(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    val daily = Tables.orders(spark, dir)
      .groupBy(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1)
    var peak = Long.MinValue
    var best = (0L, 0L, 0L, 0L) // drawdown, troughDay, peakVal, troughVal
    daily.foreach { case (day, rev) =>
      peak = math.max(peak, rev)
      val dd = peak - rev
      if (dd > best._1) best = (dd, day, peak, rev)
    }
    assert(r.getLong(4) == best._1, "drawdown_cents")
    assert(r.getLong(1) == best._2, "trough_day")
    assert(r.getLong(2) == best._3, "peak_cents")
    assert(r.getLong(3) == best._4, "trough_cents")
    assert(r.getLong(0) <= r.getLong(1), "peak day precedes trough")
    assert(daily.find(_._1 == r.getLong(0)).get._2 == best._3)
    assert(r.getLong(5) == best._1 * 1000 / best._3)
  }

  test("winsorized_revenue: trimmed <= spans mean bounds; replay one segment exactly") {
    val rows = SparkEntry.queries("winsorized_revenue")(spark, dir).collect()
    assert(rows.nonEmpty)
    val seg = rows.head.getString(0)
    val revs = Tables.orders(spark, dir)
      .groupBy("o_custkey").agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev"))
      .join(Tables.customer(spark, dir).select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("segment")), "o_custkey")
      .filter(col("segment") === seg)
      .select("rev").collect().map(_.getLong(0)).sorted
    val n = revs.length
    val k = n / 10
    val r = rows.head
    assert(r.getLong(1) == n.toLong)
    assert(r.getLong(2) == revs.sum / n)
    val trimmed = revs.slice(k, n - k)
    assert(r.getLong(3) == trimmed.sum / trimmed.length)
    val lo = revs(k)
    val hi = revs(n - k - 1)
    assert(r.getLong(4) == revs.map(v => math.min(math.max(v, lo), hi)).sum / n)
  }

  test("topk_native: row-for-row equal to the rank-window topk_per_group") {
    val native = SparkEntry.queries("topk_native")(spark, dir).collect()
    val window = SparkEntry.queries("topk_per_group")(spark, dir).collect()
    assert(native.length == window.length && native.nonEmpty)
    native.zip(window).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      assert(a.getInt(1) == b.getInt(1))
      assert(a.getLong(2) == b.getLong(2))
      assert(a.getLong(3) == b.getLong(3))
    }
  }

  test("topk_native: cents key is order-isomorphic to the raw double (2-decimal generation)") {
    val n = Tables.events(spark, dir)
      .agg(countDistinct(col("value")).as("dv"),
        countDistinct(round(col("value") * 100).cast("long")).as("dc"))
      .collect().head
    assert(n.getLong(0) == n.getLong(1),
      "distinct doubles == distinct cents — the sort keys are isomorphic")
  }

  test("topk_native plan: ObjectHashAggregate, no Window operator") {
    val df = SparkEntry.queries("topk_native")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), "native aggregate planned")
    assert(!plan.contains("Window"), "no rank window in the native plan")
    val windowPlan = SparkEntry.queries("topk_per_group")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(windowPlan.contains("Window"), "the window twin really uses one")
  }

  test("TopKState: insert/merge keep (key desc, tie asc) order under capacity pressure") {
    val s = new TopKState(3)
    Seq((5L, 9L), (5L, 2L), (7L, 1L), (3L, 0L), (5L, 1L), (9L, 4L)).foreach {
      case (k, t) => s.add(k, t)
    }
    assert(s.n == 3)
    assert((0 until s.n).map(i => (s.keys(i), s.ties(i))) == Seq((9L, 4L), (7L, 1L), (5L, 1L)))
    val a = new TopKState(3)
    Seq((1L, 1L), (9L, 5L)).foreach { case (k, t) => a.add(k, t) }
    val b = TopKState.deserialize(TopKState.serialize(s))
    a.mergeIn(b)
    assert((0 until a.n).map(i => (a.keys(i), a.ties(i))) == Seq((9L, 4L), (9L, 5L), (7L, 1L)))
  }

  test("graft_top_k SQL surface agrees with the Column API") {
    import spark.implicits._
    GraftFunctions.install(spark)
    Seq((1L, 10L, 100L), (1L, 20L, 101L), (1L, 20L, 99L), (2L, 5L, 7L))
      .toDF("g", "k", "t").createOrReplaceTempView("tk_demo")
    val rows = spark.sql(
      "SELECT g, graft_top_k(k, t, 2) AS top FROM tk_demo GROUP BY g ORDER BY g").collect()
    assert(rows(0).getSeq[org.apache.spark.sql.Row](1).map(r => (r.getLong(0), r.getLong(1)))
      == Seq((20L, 99L), (20L, 101L)))
    assert(rows(1).getSeq[org.apache.spark.sql.Row](1).map(r => (r.getLong(0), r.getLong(1)))
      == Seq((5L, 7L)))
  }
}
