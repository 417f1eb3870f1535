package graft

import org.apache.spark.sql.functions._

import graft.plans.GraftFunctions

/** Window-top-k rewrite rule + median polish / newsvendor / template mass. */
class Queries160Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def withRewrite[A](body: => A): A = {
    GraftFunctions.install(spark)
    spark.conf.set("spark.graft.rewriteWindowTopK", "true")
    try body finally spark.conf.unset("spark.graft.rewriteWindowTopK")
  }

  private val topkSql =
    s"""SELECT user_id, rk, day, cnt FROM (
       |  SELECT user_id, day, cnt,
       |    row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, day ASC) AS rk
       |  FROM (SELECT user_id, coalesce(ts_us div 86400000000, -1) AS day,
       |               count(*) AS cnt
       |        FROM ev_topk_spec GROUP BY user_id, coalesce(ts_us div 86400000000, -1)) g
       |) t WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin

  test("topk_rewrite: rule replaces the Window with the native aggregate — and bits match") {
    Tables.events(spark, dir).createOrReplaceTempView("ev_topk_spec")
    val (rewrittenPlan, rewrittenRows) = withRewrite {
      val df = spark.sql(topkSql)
      (df.queryExecution.executedPlan.toString, df.collect())
    }
    assert(rewrittenPlan.contains("ObjectHashAggregate"), "native TopKRows planned")
    assert(!rewrittenPlan.contains("Window ["), "rank window eliminated")
    assert(!rewrittenPlan.contains("WindowGroupLimit"),
      "the inferred group limit (and its extra sort) is stripped, not kept")
    val windowRows = spark.sql(topkSql).collect()
    assert(rewrittenRows.length == windowRows.length && rewrittenRows.nonEmpty)
    rewrittenRows.zip(windowRows).foreach { case (a, b) => assert(a == b) }
  }

  test("topk_rewrite: nullable sort/tie columns are left on the window plan (null semantics)") {
    import spark.implicits._
    // tie column nullable: the rule must NOT fire
    Seq((1L, Some(10L), 5L), (1L, None, 6L)).toDF("g", "t", "k")
      .createOrReplaceTempView("tk_nullable_spec")
    val plan = withRewrite {
      spark.sql(
        """SELECT g, rk, k, t FROM (
          |  SELECT g, k, t, row_number() OVER (PARTITION BY g ORDER BY k DESC, t ASC) AS rk
          |  FROM tk_nullable_spec) z WHERE rk <= 2""".stripMargin)
        .queryExecution.executedPlan.toString
    }
    assert(plan.contains("Window"), "nullable tie keeps the exact window plan")
  }

  test("topk_rewrite: wider child output (extra column) is left on the window plan") {
    import spark.implicits._
    Seq((1L, 2L, 3L, 4L)).toDF("g", "k", "t", "extra")
      .createOrReplaceTempView("tk_wide_spec")
    val plan = withRewrite {
      spark.sql(
        """SELECT g, rk, k, t, extra FROM (
          |  SELECT g, k, t, extra,
          |    row_number() OVER (PARTITION BY g ORDER BY k DESC, t ASC) AS rk
          |  FROM (SELECT g, coalesce(k, 0) AS k, coalesce(t, 0) AS t, extra
          |        FROM tk_wide_spec) w) z WHERE rk <= 2""".stripMargin)
        .queryExecution.executedPlan.toString
    }
    assert(plan.contains("Window"), "a column the aggregate cannot carry keeps the window")
  }

  test("median_polish: full replay of the two-sweep lower-median polish") {
    val rows = SparkEntry.queries("median_polish")(spark, dir).collect()
    assert(rows.length == 7)
    val daily = Tables.orders(spark, dir)
      .groupBy(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    var cells = daily.map { case (d, v) => ((d % 7, d / 7), v) }.toMap
    def lowerMed(vs: Seq[Long]): Long = vs.sorted.apply((vs.length + 1) / 2 - 1)
    val rowEff = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    def sweepBy(row: Boolean): Unit = {
      val groups = cells.groupBy { case ((i, j), _) => if (row) i else j }
      groups.foreach { case (g, cs) =>
        val m = lowerMed(cs.values.toSeq)
        if (row) rowEff(g) += m
        cs.keys.foreach(k => cells = cells.updated(k, cells(k) - m))
      }
    }
    sweepBy(row = true); sweepBy(row = false); sweepBy(row = true); sweepBy(row = false)
    rows.foreach { r =>
      val dow = r.getLong(0)
      val resid = cells.collect { case ((i, _), v) if i == dow => v }.toSeq
      assert(r.getLong(1) == rowEff(dow), s"row effect dow=$dow")
      assert(r.getLong(2) == resid.length.toLong)
      assert(r.getLong(3) == resid.map(math.abs).max)
      assert(r.getLong(4) == resid.map(math.abs).sum)
    }
  }

  test("newsvendor_quantile: stock is the 75% critical fractile; service level >= 750") {
    val rows = SparkEntry.queries("newsvendor_quantile")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, stock, service) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(service >= 750, s"service ${service} covers the critical fractile")
      assert(stock > 0 && n > 0)
    }
  }

  test("template_mass: identical near-dup docs share fingerprints; bounds hold") {
    val rows = SparkEntry.queries("template_mass")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 1000)
      assert(r.getLong(3) <= r.getLong(2), "template fp cannot exceed total")
      assert(r.getLong(5) <= r.getLong(1))
    }
    assert(rows.map(_.getLong(3)).sum > 0, "the planted near-dup family recurs across docs")
  }
}
