package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Drop every CacheScope intermediate the suite's queries pinned: a
    * full-width cached frame leaking across suites lets the CacheManager
    * substitute its InMemoryRelation into a LATER suite's plan, breaking
    * plan-shape assertions (narrow-scan checks) on otherwise-correct code. */
  override protected def afterAll(): Unit = {
    graft.util.CacheScope.release(spark)
    super.afterAll()
  }

  /** Structured failure entities → "enrichment: message" strings (the
    * pre-r9 shape most assertions were written against). */
  protected def failureStrings(rs: scala.collection.Seq[org.apache.spark.sql.Row]): Seq[String] =
    rs.toSeq.map(e => s"${e.getString(0)}: ${e.getString(3)}")
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)
}
