package graft

import org.apache.spark.sql.functions._

import graft.plans.{GraftFunctions, HllState}
import graft.queries.{Queries91, Queries125}

/** The native HLL aggregate's contract: registers bit-equal to the SQL
  * spelling, partitioning invariance, lossless day→week reaggregation
  * (max associativity), the one-Exchange plan shape vs the SQL twin's
  * two, estimate agreement with `distinct_hll`, and the SQL surface. */
class HllNativeSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("registers bit-equal to the SQL bucket/rank spelling") {
    val ev = Tables.events(spark, dir)
    val native = ev.select(col("event_type"), Queries91.hllHash60.as("v"))
      .groupBy("event_type")
      .agg(GraftFunctions.hllRegisters(col("v")).as("regs"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("regs")).toMap
    val sql = Queries91.hllBucketRank(ev)
      .groupBy("event_type", "bucket").agg(max(col("rank")).as("r"))
      .collect().groupBy(_.getString(0)).map { case (t, rows) =>
        val regs = new Array[Byte](HllState.M)
        rows.foreach(r => regs(r.getLong(1).toInt) = r.getLong(2).toByte)
        t -> regs
      }
    assert(native.keySet == sql.keySet && native.nonEmpty)
    native.foreach { case (t, regs) =>
      assert(java.util.Arrays.equals(regs, sql(t)), s"registers differ for $t")
    }
  }

  test("partitioning-invariant: 1 vs 17 partitions") {
    import spark.implicits._
    val vals = (0L until 4000L).map(i => (i % 5, (i * 2654435761L) & ((1L << 60) - 1)))
    def run(n: Int) =
      vals.toDF("g", "v").repartition(n).groupBy("g")
        .agg(GraftFunctions.hllRegisters(col("v")).as("regs"))
        .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("regs").toSeq).toMap
    assert(run(1) == run(17))
  }

  test("merge rejects a wrong-size blob with a NAMED error, not an index crash") {
    import spark.implicits._
    val bad = Seq((1L, Array.fill[Byte](8)(3))).toDF("g", "regs")
    val ex = intercept[Exception] {
      bad.groupBy("g").agg(GraftFunctions.hllMerge(col("regs")).as("m")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("graft_hll_merge")),
      s"expected the named blob-size error, got: ${messages(ex).mkString(" | ")}")
  }

  test("day->week merge is lossless: merged registers == direct week registers") {
    val ev = Tables.events(spark, dir)
    val base = ev.select(col("event_type"),
      expr("ts_us div 86400000000").as("day"), Queries91.hllHash60.as("v"))
    val merged = base.groupBy("event_type", "day")
      .agg(GraftFunctions.hllRegisters(col("v")).as("regs"))
      .groupBy(col("event_type"), expr("day div 7").as("week"))
      .agg(GraftFunctions.hllMerge(col("regs")).as("regs"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getAs[Array[Byte]]("regs").toSeq).toMap
    val direct = base.groupBy(col("event_type"), expr("day div 7").as("week"))
      .agg(GraftFunctions.hllRegisters(col("v")).as("regs"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getAs[Array[Byte]]("regs").toSeq).toMap
    assert(merged == direct && merged.nonEmpty)
  }

  test("hll_native readout matches the distinct_hll query row-for-row") {
    val a = SparkEntry.queries("hll_native")(spark, dir).collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("distinct_hll")(spark, dir).collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("plan shape: ONE exchange where the SQL sketch plans two") {
    val ev = Tables.events(spark, dir)
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    val native = ev.select(col("event_type"), Queries91.hllHash60.as("v"))
      .groupBy("event_type").agg(GraftFunctions.hllRegisters(col("v")).as("regs"))
    val sql = Queries91.hllBucketRank(ev)
      .groupBy("event_type", "bucket").agg(max(col("rank")).as("r"))
      .groupBy("event_type").agg(count(lit(1)).as("n_set"))
    assert(exchanges(native) == 1, "native: one group-keyed shuffle of 64B partials")
    assert(exchanges(sql) == 2, "SQL spelling: bucket shuffle + group shuffle")
  }

  test("summary readout matches HllState.summary; estimator sane on knowns") {
    // all-empty registers: n_set 0, S = 64·2^40, est = α·m²/S ≈ 45 → small
    val (n0, s0, e0) = HllState.summary(new Array[Byte](HllState.M))
    assert(n0 == 0L && s0 == 64L * (1L << 40) && e0 == 709L * 64 / 1000)
    // one register at rank 1 halves that bucket's term
    val regs = new Array[Byte](HllState.M); regs(3) = 1
    val (n1, s1, _) = HllState.summary(regs)
    assert(n1 == 1L && s1 == 63L * (1L << 40) + (1L << 39))
  }

  test("SQL surface: graft_hll_registers + graft_hll_summary via spark.sql") {
    GraftFunctions.install(spark)
    import spark.implicits._
    (0L until 1000L).toDF("i").createOrReplaceTempView("hll_t")
    // the canonical input contract: a well-mixed 60-bit md5-derived hash
    val row = spark.sql(
      """SELECT graft_hll_summary(graft_hll_registers(
        |  CAST(conv(substring(md5(CAST(CAST(i AS STRING) AS BINARY)), 1, 15), 16, 10) AS BIGINT)
        |)).est_hll AS est
        |FROM hll_t""".stripMargin).collect().head
    val est = row.getLong(0)
    assert(est > 700L && est < 1400L, s"estimate $est far from 1000")
  }

  test("oracle pin: hll_native reuses the distinct_hll oracle verbatim") {
    assert(Queries125.oracles("hll_native") == Queries91.oracles("distinct_hll"))
  }
}
