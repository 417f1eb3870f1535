package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression producing word k-shingles from a token array:
  * `["a","b","c","d"], k=3 → ["a b c","b c d"]` (empty when fewer than k
  * tokens).
  *
  * This is the (b)-tier extension path from SURVEY §3: the composable form
  * (`transform(sequence(...), i -> concat_ws(...element_at...))`) evaluates
  * its lambda interpreted, costing k array probes + an interpreted concat
  * per shingle; this expression participates in whole-stage codegen as one
  * call per row into a tight loop ([[RowKernel]]). Used by `TextF.shinglesFromTokens`, i.e. by the
  * MinHash / Jaccard dedup operators that shingle every document at corpus
  * scale.
  */
case class ShinglesExpression(child: Expression, k: Int)
    extends RowKernel("graft_shingles", ShinglesExpression, "shingles") with UnaryLike[Expression] {

  require(k >= 1, "k must be >= 1")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def consts: Seq[Any] = Seq(k)

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpression =
    copy(child = newChild)
}

object ShinglesExpression {
  private val Sep = UTF8String.fromString(" ")

  /** The row function. */
  def shingles(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val m = math.max(n - k + 1, 0)
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(Sep, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}
