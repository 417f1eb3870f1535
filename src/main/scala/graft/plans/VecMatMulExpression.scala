package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd vector × matrix-literal kernel ([[RowKernel]]): for each row j of the
  * plan-time `mat`, emits the left-to-right dot product Σᵢ v(i)·mat(j)(i)
  * in double — byte-identical to the composable
  * `aggregate(zip_with(v, lit(row), _*_), 0.0, _+_)` fold, minus the
  * per-element interpreted-lambda overhead (the HOF form costs ~1 boxed
  * lambda call per element; at rows × matRows × dim that dominates the
  * whole query). Backs the SRP-LSH signature tables (mat = hyperplanes) and
  * IVF centroid similarity (mat = centroids).
  */
case class VecMatMulExpression(child: Expression, mat: Array[Array[Double]])
    extends RowKernel("graft_vecmatmul", VecMatMulExpression, "matmul") with UnaryLike[Expression] {

  require(mat.nonEmpty, "matrix must have at least one row")
  require(mat.forall(_.length == mat(0).length), "matrix rows must have equal length")

  // array<float> or, for any other input, array<double>
  override def inputTypes: Seq[DataType] = Seq(child.dataType match {
    case ArrayType(FloatType, _) => ArrayType(FloatType)
    case _ => ArrayType(DoubleType)
  })
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def nullResult: Boolean = true
  // lazy in the base: child.dataType is unavailable while still unresolved
  override protected def consts: Seq[Any] = Seq(mat, child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  })

  override protected def withNewChildInternal(newChild: Expression): VecMatMulExpression =
    copy(child = newChild)
}

object VecMatMulExpression {
  /** The row function. The matrix rows share one input dimensionality; a
    * vector of any other length yields NULL (like the zip_with-pads-with-null
    * HOF fold this kernel mirrors) rather than a silently-truncated partial
    * dot product, and so does a null element, which would otherwise
    * contribute 0.0. */
  def matmul(v: ArrayData, mat: Array[Array[Double]], isFloat: Boolean): ArrayData = {
    val n = v.numElements()
    if (n != mat(0).length) return null
    var k = 0
    while (k < n) { if (v.isNullAt(k)) return null; k += 1 }
    val out = new Array[Double](mat.length)
    var j = 0
    while (j < mat.length) {
      val row = mat(j)
      var acc = 0.0
      var i = 0
      while (i < n) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        acc += x * row(i)
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }
}
