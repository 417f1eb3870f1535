package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A set of query keys. Every key has a Spark plan builder in `defs` and a
  * DuckDB twin in `oracles` that returns the same columns, hash for hash.
  * To add a key, add it to both maps of an object that extends this trait;
  * to add a set, also list the object once in `graft.SparkEntry`. */
trait QuerySet {
  type Q = (SparkSession, String) => DataFrame

  def defs: Map[String, Q]
  def oracles: Map[String, String]

  def name: String = getClass.getSimpleName.stripSuffix("$")
}

object QuerySet {

  /** The union of the sets' `defs` and of their `oracles`. Throws if a key
    * is defined in two sets (naming both), or if the merged `defs` and
    * `oracles` key sets differ. */
  def union(sets: Seq[QuerySet]): (Map[String, QuerySet#Q], Map[String, String]) = {
    val queries = merge(sets, "defs")(_.defs)
    val oracles = merge(sets, "oracles")(_.oracles)
    val noOracle = queries.keySet -- oracles.keySet
    val noQuery = oracles.keySet -- queries.keySet
    if (noOracle.nonEmpty || noQuery.nonEmpty)
      throw new IllegalStateException(
        s"query keys without an oracle: ${noOracle.toSeq.sorted.mkString(", ")}; " +
          s"oracle keys without a query: ${noQuery.toSeq.sorted.mkString(", ")}")
    (queries, oracles)
  }

  private def merge[V](sets: Seq[QuerySet], part: String)(
      of: QuerySet => Map[String, V]): Map[String, V] =
    sets.foldLeft((Map.empty[String, V], Map.empty[String, String])) {
      case ((acc, owner), set) =>
        val m = of(set)
        m.keys.find(owner.contains).foreach { k =>
          throw new IllegalStateException(
            s"$part key '$k' is defined in both ${owner(k)} and ${set.name}")
        }
        (acc ++ m, owner ++ m.keys.map(_ -> set.name))
    }._1
}
