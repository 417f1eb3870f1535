package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The integer idioms the query sets share, so that a Spark plan and its
  * DuckDB twin round the same way. Truncating division needs no sign
  * split on either engine: Spark's `div`, DuckDB 1.0's `//` on integer
  * operands (`(-7) // 2` = -3) and the JVM's Long `/` all truncate toward
  * zero. DuckDB's `//` with a DOUBLE or DECIMAL operand is a plain divide
  * (`(-7.0) // 2` = -3.5), so cast such operands to an integer type first. */
object IntIdioms {

  /** DuckDB truncating division `num / den` of INTEGER operands, as a BIGINT. */
  def tdivSql(num: String, den: String): String = s"CAST(($num) // ($den) AS BIGINT)"

  /** ⌊log₂ c⌋ for c > 0: the bit length of `c`, minus one. */
  def bits(c: Column): Column = (length(bin(c)) - 1).cast("long")

  /** Nearest-rank percentile `p` of `v`, an aggregate over rows that carry
    * their rank `rk` (1-based, ascending `v`) and the row count `n`: the `v`
    * at rank 1 + ⌊p·(n − 1) / 100⌋. */
  def nearestRank(p: Int, v: Column): Column = max(when(col("rk") === rankAt(p), v))

  /** [[nearestRank]] over a histogram, whose rows carry the running count
    * `cum` (ascending `v`) instead of a rank. */
  def nearestRankCum(p: Int, v: Column): Column = min(when(col("cum") >= rankAt(p), v))

  private def rankAt(p: Int): Column = lit(1) + expr(s"($p * (n - 1)) div 100")

  /** A decimal money amount as integer cents. */
  def cents(c: Column): Column = round(c * 100).cast("bigint")

  /** Line revenue in 10⁻⁴ units: price cents × (100 − discount cents). */
  def revE4(price: Column, disc: Column): Column = cents(price) * (lit(100L) - cents(disc))

  /** DuckDB twin of `revE4(l_extendedprice, l_discount)`. */
  val RevE4Sql: String =
    "CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))"
}
