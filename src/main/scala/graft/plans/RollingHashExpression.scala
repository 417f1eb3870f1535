package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd polynomial rolling hash over a string's UTF-8 bytes:
  * `h = Σ (h·B + byte) mod M`, left to right — the Rabin–Karp document
  * fingerprint a training-data pipeline uses for cheap shift-resistant
  * dedup keys (SURVEY §2.D `doc_fingerprint`'s rolling-hash sibling).
  * One call per row into a tight loop over the bytes ([[RowKernel]]); the
  * composable form would explode the string into a character array per row.
  *
  * B and M are small-literal parameters; M must keep `(M−1)·B + 255` inside
  * a signed long, which `require` enforces.
  */
case class RollingHashExpression(child: Expression, base: Long, mod: Long)
    extends RowKernel("graft_rolling_hash", RollingHashExpression, "hash") with UnaryLike[Expression] {

  require(base > 0 && mod > 1, "base and mod must be positive")
  require(mod - 1 <= (Long.MaxValue - 255) / base, "base*mod must fit a long")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override protected def consts: Seq[Any] = Seq(base, mod)

  override protected def withNewChildInternal(newChild: Expression): RollingHashExpression =
    copy(child = newChild)
}

object RollingHashExpression {
  /** The row function. */
  def hash(s: UTF8String, base: Long, mod: Long): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * base + (bytes(i) & 0xff)) % mod
      i += 1
    }
    h
  }
}
