package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native `bits`-bit SimHash over a token array: per DISTINCT token, the
  * first bits/4 md5 hex digits are the token's bit vector; fingerprint
  * bit b is set when the majority of tokens have bit b set. One fused pass
  * per row. 60 bits is the widest width whose per-token value stays inside
  * a SIGNED 64-bit integer (15 hex digits < 2^60) — which keeps the DuckDB
  * oracle spelling a plain BIGINT cast.
  *
  * Exists because the composable spelling (`bits` × `filter()` higher-order
  * functions over the value array) exceeds janino's 64 KB method limit at
  * 32 bits — whole-stage codegen silently falls back to the interpreted
  * path and the fingerprint scan goes from 0.1 s to ~8 s at sf0.1. Byte
  * parity with the composable form is pinned by FunctionsSpec: md5 of the
  * token's UTF-8 bytes, first `bits` bits big-endian-hex order, ties
  * (2·ones ≥ n) set the bit, empty array → 0.
  */
case class SimHashExpression(child: Expression, bits: Int)
    extends RowKernel("graft_simhash", SimHashExpression, "compute") with UnaryLike[Expression] {

  require(bits % 4 == 0 && bits >= 4 && bits <= 64,
    "bits must be a multiple of 4 in 4..64 (a whole number of md5 hex digits)")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override protected def consts: Seq[Any] = Seq(bits)

  override protected def withNewChildInternal(newChild: Expression): SimHashExpression =
    copy(child = newChild)
}

object SimHashExpression {

  /** The row function: distinct tokens, per-token
    * value = the first bits/4 md5 hex digits as an integer (== DuckDB
    * `'0x' || substr(md5, 1, bits/4)` cast; for bits = 32 that is the first
    * 4 bytes big-endian, the original spelling), majority vote per bit. */
  def compute(arr: ArrayData, bits: Int): Long = {
    val md = MessageDigest.getInstance("MD5")
    val seen = new java.util.HashSet[UTF8String]()
    val ones = new Array[Int](bits)
    var n = 0
    var i = 0
    while (i < arr.numElements()) {
      val t = arr.getUTF8String(i)
      if (t != null && seen.add(t)) {
        n += 1
        md.reset()
        val d = md.digest(t.getBytes)
        // first 8 bytes big-endian, logically shifted down to the first
        // bits/4 hex digits
        var v64 = 0L
        var k = 0
        while (k < 8) { v64 = (v64 << 8) | (d(k) & 0xffL); k += 1 }
        val v = v64 >>> (64 - bits)
        var b = 0
        while (b < bits) {
          if (((v >> b) & 1L) == 1L) ones(b) += 1
          b += 1
        }
      }
      i += 1
    }
    if (n == 0) return 0L
    var f = 0L
    var b = 0
    while (b < bits) {
      if (2 * ones(b) >= n) f |= 1L << b
      b += 1
    }
    f
  }
}
