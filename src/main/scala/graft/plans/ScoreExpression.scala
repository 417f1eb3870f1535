package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Hashed-feature linear score in one codegen'd pass (r16; guide §1.2
  * per-task work): Σ over tokens of `table[(first byte of md5(salt ++
  * token)) % table.length]` — the fused form of Queries15's composable
  * `aggregate(toks, 0L, (acc, t) -> acc + element_at(arr, bucketOf(salt,
  * t) + 1))`, whose lambda evaluates interpreted (CodegenFallback) and
  * pays an md5 hex encode, two substring/ascii probes and a literal-array
  * `element_at` per TOKEN. The kernel hashes raw bytes, reads digest byte
  * 0 directly (hex nibbles 1-2 ARE that byte) and sums from a plain long
  * array.
  *
  * Equivalence with the composable twin (`scoreColSpec`, pinned by a
  * differential PropertySpec): null array → null; empty array → 0; a null
  * ELEMENT nulls the whole sum (the twin's fold turns acc null via
  * `acc + null` and never recovers).
  */
case class ScoreExpression(child: Expression, salt: String, table: Seq[Long])
    extends RowKernel("graft_feature_score", ScoreExpression, "scoreRow") with UnaryLike[Expression] {

  require(table.length == 64,
    s"score table must have 64 entries, got ${table.length}: the composable " +
      "twin and the DuckDB oracle bucket by % 64")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override protected def nullResult: Boolean = true
  override protected def consts: Seq[Any] =
    Seq(salt.getBytes(java.nio.charset.StandardCharsets.UTF_8), table.toArray)

  override protected def withNewChildInternal(newChild: Expression): ScoreExpression =
    copy(child = newChild)
}

object ScoreExpression {

  private val digestTL: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** A null ARRAY nulls the result before the call; a null ELEMENT nulls
    * the sum, matching the composable fold's `acc + null`. */
  def scoreRow(arr: ArrayData, salt: Array[Byte], table: Array[Long]): java.lang.Long = {
    val md = digestTL.get()
    val b = table.length
    var sum = 0L
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      md.reset()
      md.update(salt)
      md.update(arr.getUTF8String(i).getBytes)
      val d = md.digest()
      sum += table((d(0) & 0xff) % b)
      i += 1
    }
    java.lang.Long.valueOf(sum)
  }
}
