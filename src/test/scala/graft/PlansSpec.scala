package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextF
import graft.plans.GraftFunctions

class PlansSpec extends SparkSpec {

  /** `q`'s rows on one path: generated code only (whole-stage codegen on,
    * codegen factory only) or interpreted only (both off). Local relations
    * stay scans on both: `ConvertToLocalRelation` would evaluate a `toDF`
    * frame's projection through `eval` at planning, whatever the path. */
  private def onPath[T](codegen: Boolean)(q: => DataFrame)(read: DataFrame => T): T = {
    val confs = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode",
      "spark.sql.optimizer.excludedRules")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(confs(0), codegen)
    spark.conf.set(confs(1), if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
    spark.conf.set(confs(2), (saved(2)._2.toSeq :+
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation").mkString(","))
    try {
      val df = q
      val out = read(df)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Project"), s"the projection was folded away at planning:\n$plan")
      out
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("ShinglesExpression matches the composable form (codegen + interpreted)") {
    import spark.implicits._
    val df = Seq("a b c d e", "a b", "", "x y z").toDF("t")
      .withColumn("toks", split(col("t"), " "))
    def run(codegen: Boolean) = onPath(codegen)(df.select(TextF.shinglesFromTokens(col("toks"), 3).as("s")))(
      _.collect().map(_.getSeq[String](0).toList).toList)
    val native = run(codegen = true)
    assert(native(0) == List("a b c", "b c d", "c d e"))
    assert(native(1) == Nil)
    assert(native(3) == List("x y z"))
    assert(run(codegen = false) == native)
  }

  test("WinnowExpression matches the composable form on the corpus (codegen + interpreted)") {
    val dir = "/root/testdata/sf0.001"
    def sels(codegen: Boolean)(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      onPath(codegen)(f(Tables.documents(spark, dir)).select(col("doc_id"), col("sel")))(
        _.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap)
    val native = sels(codegen = true)(graft.queries.Queries20.winnowSel)
    val composed = sels(codegen = true)(graft.queries.Queries20.winnowSelComposed)
    assert(native == composed, "native deque kernel must equal the slice/array_min form")
    assert(sels(codegen = false)(graft.queries.Queries20.winnowSel) == composed)
    // edge shapes: fewer hashes than the window, single element, empty
    import spark.implicits._
    val edge = Seq((1L, "a b c d e"), (2L, "a b c d"), (3L, "")).toDF("doc_id", "text")
    val ec = sels(codegen = true)(_ => graft.queries.Queries20.winnowSelComposed(edge))
    for (cg <- Seq(true, false)) {
      val en = sels(cg)(_ => graft.queries.Queries20.winnowSel(edge))
      assert(en == ec, s"edge shapes diverge (codegen=$cg): $en vs $ec")
      assert(en(3L).isEmpty)
    }
  }

  test("VecMatMulExpression matches the composable HOF fold (codegen + interpreted)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val mat = Seq(Seq(1.5, -2.0, 0.25), Seq(0.0, 4.0, -1.0))
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f)), (2L, Seq(-0.5f, 0.0f, 8.0f))).toDF("id", "v")
    def hof(row: Seq[Double]) =
      aggregate(zip_with(col("v"), typedLit(row), (x, w) => x.cast("double") * w),
        lit(0.0), (a, x) => a + x)
    val expected = df.select(col("id"), array(hof(mat(0)), hof(mat(1))).as("d"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
    def viaKernel(codegen: Boolean) = {
      import org.apache.spark.sql.graft.ColumnBridge
      onPath(codegen)(df.select(col("id"), ColumnBridge.column(
          graft.plans.VecMatMulExpression(ColumnBridge.expression(col("v")),
            mat.map(_.toArray).toArray)).as("d")))(
        _.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap)
    }
    assert(viaKernel(codegen = true) == expected)
    assert(viaKernel(codegen = false) == expected)
  }

  test("VecMatMulExpression: mis-dimensioned vector yields NULL, not a truncated product") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge
    val mat = Array(Array(1.0, 2.0, 3.0))
    val df = Seq((1L, Seq(1.0f, 1.0f)), (2L, Seq(1.0f, 1.0f, 1.0f, 1.0f)), (3L, Seq(1.0f, 1.0f, 1.0f)))
      .toDF("id", "v")
    def run(codegen: Boolean) = {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try df.select(col("id"), ColumnBridge.column(
          graft.plans.VecMatMulExpression(ColumnBridge.expression(col("v")), mat)).as("d"))
        .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_ => r.getSeq[Double](1).toList)).toMap
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    for (cg <- Seq(true, false)) {
      val out = run(cg)
      assert(out(1L).isEmpty && out(2L).isEmpty, s"short/long vectors must be null (codegen=$cg)")
      assert(out(3L).contains(List(6.0)), s"exact-dim vector still computes (codegen=$cg)")
    }
  }

  test("PqReconExpression: short, long and null-element vectors yield NULL") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge
    val codebook = Seq(Seq(0L, 0L, 0L, 0L), Seq(10L, 10L, 10L, 10L))
    val df = Seq[(Long, Seq[java.lang.Long])]((1L, Seq(1L, 2L)), (2L, Seq(1L, 2L, 3L, 4L, 5L)),
      (3L, Seq(1L, null, 3L, 4L)), (4L, Seq(1L, 2L, 9L, 9L))).toDF("id", "v")
    for (cg <- Seq(true, false)) {
      val out = onPath(cg)(df.select(col("id"), ColumnBridge.column(
          graft.plans.PqReconExpression(ColumnBridge.expression(col("v")), codebook, 2)).as("r")))(
        _.collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1)).map(_.toList)).toMap)
      assert(out(1L).isEmpty && out(2L).isEmpty && out(3L).isEmpty, s"malformed vectors must be null (codegen=$cg): $out")
      assert(out(4L).contains(List(0L, 0L, 10L, 10L)), s"a well-formed vector still decodes (codegen=$cg)")
    }
  }

  test("RollingHashExpression: known vectors, codegen == interpreted") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TextF
    // hand-computed: "ab" → (97*257 + 98) % 1000000007 = 25027
    val df = Seq((1L, "ab"), (2L, ""), (3L, "hello world")).toDF("id", "t")
    def run(codegen: Boolean) =
      onPath(codegen)(df.select(col("id"), TextF.rollingHash(col("t")).as("h")))(
        _.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val cg = run(codegen = true)
    assert(cg(1L) == 25027L)
    assert(cg(2L) == 0L)
    assert(cg == run(codegen = false))
  }

  test("scale-path plans: narrow IVF assignment, banded dedup, no cartesian joins") {
    val dir = "/root/testdata/sf0.001"
    val ivf = graft.SparkEntry.queries("ann_ivf")(spark, dir)
      .queryExecution.executedPlan.toString
    // assignment rides the codegen'd kernel in a projection over the scan —
    // the corpus side must reach the probe join without any exchange
    assert(ivf.contains("graft_vecmatmul"))
    assert(!ivf.contains("CartesianProduct"))
    val dedup = graft.SparkEntry.queries("dedup_embedding")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(dedup.contains("graft_vecmatmul"))
    assert(!dedup.contains("CartesianProduct") && !dedup.contains("BroadcastNestedLoop"),
      "band join must be an equi-join, never an all-pairs product")
  }

  test("DESCRIBE FUNCTION prints a graft kernel's usage") {
    GraftFunctions.install(spark)
    val lines = spark.sql("DESCRIBE FUNCTION graft_shingles").collect().map(_.getString(0)).toSeq
    assert(lines.contains("Usage: graft_shingles(tokens, k)"), lines)
  }

  test("SQL function registration exposes kernels to spark.sql") {
    GraftFunctions.install(spark)
    val r = spark.sql(
      """SELECT graft_anon_ip('94.15.223.151', 2) AS a,
        |       graft_event_type('pv') AS e,
        |       graft_token_count('Hello, World!') AS n,
        |       graft_shingles(array('a','b','c'), 2) AS s,
        |       graft_browser_family('Mozilla/5.0 Firefox/119.0') AS b
        |""".stripMargin).collect()(0)
    assert(r.getAs[String]("a") == "94.15.x.x")
    assert(r.getAs[String]("e") == "page_view")
    assert(r.getAs[Int]("n") == 2)
    assert(r.getSeq[String](3).toList == List("a b", "b c"))
    assert(r.getAs[String]("b") == "Firefox")
    val r5 = spark.sql(
      """SELECT graft_scrub_pii('mail a@b.io now') AS p,
        |       graft_canonical_url('HTTPS://X.com:443/p?utm_s=1&a=2#f') AS u,
        |       CAST(graft_ipv6_lo64('2001:db8:1:2:0:0:0:5') AS STRING) AS lo,
        |       graft_ipv6_prefix('2001:0db8:0001:2:0:0:0:5') AS pfx
        |""".stripMargin).collect()(0)
    assert(r5.getAs[String]("p") == "mail <EMAIL> now")
    assert(r5.getAs[String]("u") == "https://x.com/p?a=2") // utm_* stripped, :443 default, #f dropped
    assert(r5.getAs[String]("lo") == "5")
    assert(r5.getAs[String]("pfx") == "2001:db8:1:2")
    val r8 = spark.sql(
      """SELECT graft_simhash('the quick brown fox') AS s60,
        |       graft_simhash('the quick brown fox', 32) AS s32,
        |       graft_rolling_hash('abc') AS rh
        |""".stripMargin).collect()(0)
    import org.apache.spark.sql.functions.{col, lit}
    val expect60 = spark.range(1)
      .select(graft.functions.TextF.simhash60(lit("the quick brown fox"))).collect()(0).getLong(0)
    assert(r8.getAs[Long]("s60") == expect60, "SQL surface matches the Column API")
    assert(r8.getAs[Long]("s60") >= 0L)
    assert(r8.getAs[Long]("rh") == (('a' * 257L + 'b') * 257L + 'c') % 1000000007L)
    // round-11 payload codecs on the SQL surface: round trips + bomb guard
    val r11 = spark.sql(
      """SELECT CAST(graft_gunzip(graft_gzip(CAST('payload body' AS BINARY))) AS STRING) AS g,
        |       CAST(graft_unzstd(graft_zstd(CAST('payload body' AS BINARY))) AS STRING) AS z
        |""".stripMargin).collect()(0)
    assert(r11.getAs[String]("g") == "payload body")
    assert(r11.getAs[String]("z") == "payload body")
    val bomb = intercept[Exception](spark.sql(
      "SELECT graft_gunzip(graft_gzip(CAST(repeat('x', 200000) AS BINARY)), 1024)").collect())
    assert(bomb.getMessage.contains("maxBytes") ||
      Option(bomb.getCause).exists(_.getMessage.contains("maxBytes")))
  }
}
