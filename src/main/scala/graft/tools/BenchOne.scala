package graft.tools

/** Dev-only single-query timing loop: runs the named queries N times each
  * and prints per-run wall seconds — separates JIT/codegen warmup from
  * steady-state cost when one bench entry looks like an outlier. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = graft.GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val d = (System.nanoTime() - t0) / 1e9
        graft.util.CacheScope.release(spark)
        spark.catalog.clearCache()
        d
      }
      println(f"[benchone] $name: ${times.map(t => f"$t%.2f").mkString(", ")}")
    }
    spark.stop()
  }
}
