package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native winnowing selection (Schleimer et al., SIGMOD 2003): given the
  * array of shingle hashes, return the SORTED DISTINCT minima of every
  * w-wide window — the document's winnowing fingerprint set.
  *
  * The composable form (`transform(sequence(...), i ->
  * array_min(slice(...)))`) evaluates its lambda interpreted and re-scans w
  * elements per window — O(n·w) with per-window array allocation. This
  * kernel is the textbook O(n) monotonic deque, one call per row inside
  * whole-stage codegen ([[RowKernel]]):
  * one pass, one int[] of indices, then one sort+dedup of the ≈n/w selected
  * minima. Fewer than w hashes (but ≥ 1) form a single window; null
  * elements are ignored by the window minimum (a window of only nulls
  * selects nothing).
  */
case class WinnowExpression(child: Expression, w: Int)
    extends RowKernel("graft_winnow", WinnowExpression, "winnow") with UnaryLike[Expression] {

  require(w >= 1, "window must be >= 1")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def consts: Seq[Any] = Seq(w)

  override protected def withNewChildInternal(newChild: Expression): WinnowExpression =
    copy(child = newChild)
}

object WinnowExpression {
  /** The row function. */
  def winnow(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val vals = new Array[UTF8String](n)
    var i = 0
    while (i < n) { vals(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i); i += 1 }
    val nw = math.max(n - w + 1, 1)
    val mins = new Array[UTF8String](nw)
    var cnt = 0
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0
    i = 0
    while (i < n) {
      if (vals(i) != null) {
        while (tail > head && vals(dq(tail - 1)).compareTo(vals(i)) >= 0) tail -= 1
        dq(tail) = i; tail += 1
      }
      while (tail > head && dq(head) <= i - w) head += 1
      if (i >= w - 1 && tail > head) { mins(cnt) = vals(dq(head)); cnt += 1 }
      i += 1
    }
    if (n < w && tail > head) { mins(cnt) = vals(dq(head)); cnt += 1 }
    java.util.Arrays.sort(mins.asInstanceOf[Array[AnyRef]], 0, cnt)
    var u = 0
    i = 0
    while (i < cnt) {
      if (i == 0 || !mins(i).equals(mins(i - 1))) { mins(u) = mins(i); u += 1 }
      i += 1
    }
    val out = new Array[Any](u)
    System.arraycopy(mins, 0, out, 0, u)
    new GenericArrayData(out)
  }
}
