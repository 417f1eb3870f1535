package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All MinHash signature components in ONE pass over the shingle array
  * (r16 optimization round; guide §1.2 "per-task work" / §4 "prefer
  * codegen-friendly expressions").
  *
  * The composable spelling — one
  * `array_min(transform(sh, s -> md5(concat('seed:', s))))` per seed — is
  * an interpreted CodegenFallback lambda: with 4 seeds it walks the array
  * 4 times, and every element pays the lambda dispatch, a UTF8String concat, a
  * binary cast, an md5 hex-encode and an array_min string compare. This
  * expression computes every seed's minimum in a single walk, reuses one
  * `MessageDigest`, compares raw 16-byte digests (hex encoding is
  * order-preserving on unsigned bytes, so digest order == hex-string
  * order) and hex-encodes only the per-seed winners once per row.
  *
  * Exact-equivalence contract with the composable twin (pinned by a
  * differential PropertySpec over the token universe):
  * null array → null; null elements hash to null and are skipped by
  * array_min; empty / all-null arrays → null component; otherwise the
  * lexicographic minimum of lowercase-hex `md5(seed || ":" || shingle)`.
  */
case class MinHashExpression(child: Expression, seeds: Seq[Int])
    extends RowKernel("graft_minhash", MinHashExpression, "minhashRow") with UnaryLike[Expression] {

  require(seeds.nonEmpty, "at least one seed")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override protected def consts: Seq[Any] = Seq(MinHashExpression.prefixBytes(seeds))

  override protected def withNewChildInternal(newChild: Expression): MinHashExpression =
    copy(child = newChild)
}

object MinHashExpression {

  private[plans] def prefixBytes(seeds: Seq[Int]): Array[Array[Byte]] =
    seeds.map(s => s"$s:".getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

  private val digestTL: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private val HexChars = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = HexChars(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Unsigned lexicographic byte compare — the same order as comparing the
    * lowercase-hex encodings as strings. */
  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  /** One pass over the shingle array: per-seed minimum md5 digest, hex. */
  def minhashRow(arr: ArrayData, prefixes: Array[Array[Byte]]): ArrayData = {
    val nSeeds = prefixes.length
    val mins = new Array[Array[Byte]](nSeeds)
    val md = digestTL.get()
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val bytes = arr.getUTF8String(i).getBytes
        var s = 0
        while (s < nSeeds) {
          md.reset()
          md.update(prefixes(s))
          md.update(bytes)
          val d = md.digest()
          if (mins(s) == null || less(d, mins(s))) mins(s) = d
          s += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](nSeeds)
    var s = 0
    while (s < nSeeds) {
      out(s) = if (mins(s) == null) null else hex(mins(s))
      s += 1
    }
    new GenericArrayData(out)
  }
}
