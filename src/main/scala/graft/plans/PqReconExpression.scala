package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native product-quantization encode→decode: per subspace the
  * argmin-L2 codebook centroid (tie → lowest index), output the vector
  * reconstructed from those codes — the ADC corpus side of a PQ index, in
  * one fused pass per row.
  *
  * Exists for the same reason as [[SimHashExpression]]: the composable
  * spelling is an m·k·d-term Catalyst tree (8·16·8 = 1024 arithmetic nodes
  * plus an array_min over 16-struct arrays per subspace) that costs seconds
  * of optimizer+janino work per plan and flirts with the 64 KB method
  * limit. The codebook is a compile-time literal here exactly as it is in
  * the composable form — encode stays a narrow projection with zero
  * corpus-side joins. Byte parity with the composable spelling is spec'd
  * (Queries21Spec: codebook members reconstruct exactly; FunctionsSpec
  * twin-checks a corpus scan). A vector whose length is not the
  * codebook's, or that holds a null element, yields NULL, as in
  * [[VecMatMulExpression]].
  */
case class PqReconExpression(child: Expression, codebook: Seq[Seq[Long]], subDim: Int)
    extends RowKernel("graft_pq_recon", PqReconExpression, "compute") with UnaryLike[Expression] {

  require(codebook.nonEmpty && codebook.forall(_.length == codebook.head.length),
    "codebook rows must be equal-length")
  require(codebook.head.length % subDim == 0, "vector length must divide into subspaces")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullResult: Boolean = true
  override protected def consts: Seq[Any] = Seq(codebook.flatten.toArray, codebook.head.length, subDim)

  override protected def withNewChildInternal(newChild: Expression): PqReconExpression =
    copy(child = newChild)
}

object PqReconExpression {

  /** The row function. `cb` is row-major (k × dim); distances are
    * per-subspace L2 over the m-th slice; strict `<` keeps the first
    * (lowest-index) centroid on ties, matching
    * `array_min(array(struct(d, c)…))`. Null when `arr` is not `dim` long
    * or holds a null. */
  def compute(arr: ArrayData, cb: Array[Long], dim: Int, subDim: Int): ArrayData = {
    if (arr.numElements() != dim) return null
    var i = 0
    while (i < dim) { if (arr.isNullAt(i)) return null; i += 1 }
    val k = cb.length / dim
    val m = dim / subDim
    val out = new Array[Long](dim)
    var s = 0
    while (s < m) {
      val off = s * subDim
      var best = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < k) {
        var d = 0L
        var j = 0
        while (j < subDim) {
          val diff = arr.getLong(off + j) - cb(c * dim + off + j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      var j = 0
      while (j < subDim) {
        out(off + j) = cb(best * dim + off + j)
        j += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }
}
