package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Flattened integer outer product q ⊗ q (row-major, d² BIGINTs) — the
  * per-row Gram contribution feeding [[ArraySum]].
  *
  * Replaces the interpreted-HOF spelling
  * `transform(sequence(0, d²−1), k -> element_at(q, k div d + 1) *
  * element_at(q, k % d + 1))` — a CodegenFallback lambda evaluated d²
  * times per row with two element_at probes and a div/mod each (the
  * interpreted-HOF trap CLAUDE.md documents). One codegen'd call into a
  * tight double loop instead; values are identical (same multiplies, same
  * order). */
case class OuterProductExpression(child: Expression)
    extends RowKernel("graft_outer_product", OuterProductExpression, "compute") with UnaryLike[Expression] {

  // the actual producer (round(..).cast(long) quantization) carries
  // containsNull=true in its TYPE though it never emits null elements;
  // compute() guards each slot and fails LOUDLY on a null instead of
  // silently reading it as 0 under UnsafeArrayData (r16, advisor note)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def withNewChildInternal(newChild: Expression): OuterProductExpression =
    copy(child = newChild)
}

object OuterProductExpression {
  def compute(q: ArrayData): ArrayData = {
    val n = q.numElements()
    val v = new Array[Long](n)
    var i = 0
    while (i < n) {
      // loud guard: a null slot would otherwise read as 0 under
      // UnsafeArrayData, silently diverging from the HOF twin's
      // null-propagation (no producer emits nulls today)
      if (q.isNullAt(i))
        throw new IllegalArgumentException(
          s"graft_outer_product: null element at index $i")
      v(i) = q.getLong(i); i += 1
    }
    val out = new Array[Long](n * n)
    i = 0
    while (i < n) {
      val vi = v(i)
      var j = 0
      while (j < n) { out(i * n + j) = vi * v(j); j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }
}
