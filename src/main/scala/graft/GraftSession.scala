package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftFunctions

/** The one place graft builds a SparkSession, so that the library, the app
  * and every tool plan their queries under the same optimizer config and
  * do their local I/O through the same filesystem. */
object GraftSession {

  /** Set the session time zone, graft's two optimizer confs and its
    * fork-free `file:` filesystem. */
  def configure(builder: SparkSession.Builder = SparkSession.builder()): SparkSession.Builder =
    builder
      .config("spark.sql.session.timeZone", "UTC")
      // local writes and checkpoint commits start no process (graft.io).
      // Session options, not spark.hadoop.*: they reach every Hadoop conf
      // the session hands out, also when getOrCreate reuses a session built
      // elsewhere. Hadoop caches a FileSystem per scheme, authority and user
      // (not per class), so a cached plain LocalFileSystem would win; an
      // uncached get costs about 3.5 µs.
      .config("fs.file.impl", classOf[graft.io.NoForkLocalFileSystem].getName)
      .config("fs.AbstractFileSystem.file.impl", classOf[graft.io.NoForkLocalFs].getName)
      .config("fs.file.impl.disable.cache", "true")
      // let AQE re-plan shuffles INSIDE cached plans (off by default): the
      // iterative operators (connected components, PageRank) cache small
      // per-round frames whose fixed-width partitioning otherwise dominates
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // InferFiltersFromGenerate turns explode/inline over an expensive
      // parsed column (webhook regexp + url_decode + from_json) into a
      // pushed-down filter that RE-EVALUATES the whole decode chain per
      // row below the exchange — measured +55% on the array adapters at
      // sf0.1. The synth/webhook arrays are non-null by construction, so
      // the inferred filter only costs.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")

  /** A local session on `cpus` cores, one shuffle partition per core, no
    * UI, with graft's functions, rules and strategies installed. */
  def local(cpus: Int): SparkSession = {
    val spark = configure()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftFunctions.install(spark)
    spark
  }
}
