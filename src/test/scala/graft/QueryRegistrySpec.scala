package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.QuerySet

/** The query registry: every query set is listed once in `SparkEntry`, every
  * key has its DuckDB twin, and the shared idioms live in one place. */
class QueryRegistrySpec extends SparkSpec {

  private def mainSources: Seq[Path] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  private val noQuery: (SparkSession, String) => DataFrame = (sp, _) => sp.range(1).toDF()

  private class TestSet(override val name: String, keys: Seq[String], oracleKeys: Seq[String])
      extends QuerySet {
    val defs: Map[String, Q] = keys.map(_ -> noQuery).toMap
    val oracles: Map[String, String] = oracleKeys.map(_ -> "SELECT 1").toMap
  }

  test("queries and oracleSql hold the same 644 keys") {
    val (q, o) = (SparkEntry.queries.keySet, SparkEntry.oracleSql.keySet)
    assert(q.size == 644)
    assert(q -- o == Set.empty && o -- q == Set.empty)
  }

  test("the fold rejects a key defined in two sets, naming both") {
    val a = new TestSet("SetA", Seq("k1", "shared"), Seq("k1", "shared"))
    val b = new TestSet("SetB", Seq("k2", "shared"), Seq("k2", "shared"))
    val e = intercept[IllegalStateException](QuerySet.union(Seq(a, b)))
    assert(e.getMessage.contains("'shared'") && e.getMessage.contains("SetA") &&
      e.getMessage.contains("SetB"), e.getMessage)
    val (q, o) = QuerySet.union(Seq(a, new TestSet("SetC", Seq("k3"), Seq("k3"))))
    assert(q.keySet == Set("k1", "shared", "k3") && o.keySet == q.keySet)
  }

  test("the fold rejects a key without its twin") {
    val noOracle = new TestSet("SetD", Seq("k1", "k2"), Seq("k1"))
    val e1 = intercept[IllegalStateException](QuerySet.union(Seq(noOracle)))
    assert(e1.getMessage.contains("without an oracle: k2"), e1.getMessage)
    val noQuery = new TestSet("SetE", Seq("k1"), Seq("k1", "k3"))
    val e2 = intercept[IllegalStateException](QuerySet.union(Seq(noQuery)))
    assert(e2.getMessage.contains("without a query: k3"), e2.getMessage)
  }

  test("source guard: every QuerySet object is listed once in SparkEntry") {
    val declared = mainSources.flatMap { f =>
      """(?m)^object (\w+) extends QuerySet\b""".r
        .findAllMatchIn(Files.readString(f)).map(_.group(1))
    }
    assert(declared.size == 213)
    val listed = SparkEntry.Sets.map(_.name)
    assert(listed.distinct == listed, "a set is listed twice")
    assert(listed.toSet == declared.toSet,
      s"unlisted: ${declared.diff(listed)}, not declared: ${listed.diff(declared)}")
    val entry = Files.readString(Paths.get("src/main/scala/graft/SparkEntry.scala"))
    declared.foreach { n =>
      assert(s"\\b$n\\b".r.findAllIn(entry).size == 1, s"$n must be named once in SparkEntry")
    }
  }

  test("source guard: the query type and the integer idioms are defined once") {
    def hits(p: String) = mainSources.flatMap { f =>
      p.r.findAllIn(Files.readString(f)).map(_ => f.getFileName.toString)
    }
    assert(hits("""type Q\s*=""") == Seq("QuerySet.scala"))
    assert(hits("""def (tdiv|tdivSql|tdivL|bits|cents|revE4|nearestRank)\b""").distinct ==
      Seq("IntIdioms.scala"))
    assert(hits("""def pick\(p: Int\)""").isEmpty, "use IntIdioms.nearestRank")
    assert(hits("""-\(\(-|-\(CAST\(-""").isEmpty,
      "Spark's div, DuckDB's integer // and the JVM's / all truncate: no sign split")
  }

  test("Spark's div truncates toward zero: it equals the sign-split CASE") {
    val df = spark.range(-60, 61).toDF("num")
      .crossJoin(spark.createDataFrame(Seq(Tuple1(1L), Tuple1(2L), Tuple1(7L), Tuple1(-3L),
        Tuple1(1000L))).toDF("den"))
    val diff = df.selectExpr("num div den AS d",
        "CASE WHEN num >= 0 THEN num div den ELSE -((-(num)) div den) END AS t")
      .filter("d <> t").count()
    assert(diff == 0)
    val r = spark.sql("SELECT -7 div 2, 7 div -2, -7 div -2, -1 div 1000").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((-3L, -3L, 3L, 0L)))
  }
}
