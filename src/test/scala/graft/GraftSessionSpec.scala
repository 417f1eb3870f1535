package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.plans.{GraftExtensions, GraftFunctions}

/** The session factory and the one install of graft's functions, rules and
  * strategies: install is idempotent, the `spark.sql.extensions` entry point
  * attaches the same set, and no main code builds a session or attaches a
  * rule anywhere else — nor df-caps or self-joins shingles outside
  * `operators/PairEngine`. */
class GraftSessionSpec extends SparkSpec {

  private def assertOnce[A](attached: Seq[A], wanted: Seq[A]): Unit =
    wanted.foreach { w =>
      assert(attached.count(_ == w) == 1, s"$w attached ${attached.count(_ == w)} times")
    }

  private val functionNames = GraftFunctions.all.map(_._1)

  test("install twice leaves each rule and strategy in the session exactly once") {
    GraftFunctions.install(spark)
    GraftFunctions.install(spark)
    assertOnce(spark.experimental.extraStrategies, GraftFunctions.strategies)
    assertOnce(spark.experimental.extraOptimizations, GraftFunctions.rules)
    assert(functionNames.forall(spark.sessionState.functionRegistry.functionExists))
  }

  test("GraftExtensions attaches the same functions, rules and strategies as install") {
    // a second session on the same SparkContext, built the way a SQL user
    // builds one; the shared test session is restored afterwards
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext =
      try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
      finally {
        SparkSession.setDefaultSession(spark)
        SparkSession.setActiveSession(spark)
      }
    assert(ext ne spark)
    assert(functionNames.forall(ext.sessionState.functionRegistry.functionExists))
    assertOnce(ext.sessionState.planner.extraPlanningStrategies, GraftFunctions.strategies)
    assertOnce(ext.sessionState.optimizer.extendedOperatorOptimizationRules, GraftFunctions.rules)
  }

  test("source guard: sessions are built and rules attached in one place each") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files: Seq[Path] = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def hits(p: String) = files.flatMap { f =>
      p.r.findAllIn(Files.readString(f)).map(_ => f.getFileName.toString)
    }
    assert(hits("""SparkSession\.builder""") == Seq("GraftSession.scala"),
      "build sessions through GraftSession")
    assert(hits("""\.extra(Strategies|Optimizations)\s*(=(?!=)|\+\+=|:\+=|\+=)""") ==
      Seq("GraftExtensions.scala", "GraftExtensions.scala"),
      "attach strategies and rules through GraftFunctions.install")
    // the Spark-side df cap and the shingle self-join; the oracle SQL
    // interpolates the constant as `$StopShingleDf`, which is not a filter
    assert(hits("""<=\s*(?:\w+\.)?StopShingleDf""") == Seq("PairEngine.scala"),
      "df-cap shingles through operators/PairEngine")
    assert(hits("""col\("a\.s"\)\s*===\s*col\("b\.s"\)""") == Seq("PairEngine.scala"),
      "self-join shingle tables through operators/PairEngine")
    assert(hits("""defs\("ngram_jaccard"\)""").isEmpty,
      "compose PairEngine.jaccard instead of calling the ngram_jaccard query")
  }
}
