package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Gzip + zstd codec kernels for collector-payload batches (reference
  * core/Decompressor.scala: incoming payload blobs arrive gzip or zstd
  * compressed — `ZstdInputStreamNoFinalizer` there — and are inflated with
  * an output-size guard before adapter parsing). Gzip rides the JDK; zstd
  * rides zstd-jni, which Spark already ships for shuffle compression.
  *
  * The expressions stay inside whole-stage codegen as a single static
  * call per row ([[RowKernel]]; the stream codec itself is library code;
  * inlining it would only bloat the generated method past the JIT limit).
  * Decompression enforces `maxBytes` while inflating — a decompression
  * bomb fails the ROW with a clear error before allocating its payload,
  * never the executor.
  */
object GzipCodec {
  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(bytes)
    g.close()
    bos.toByteArray
  }

  def gunzip(bytes: Array[Byte], maxBytes: Int): Array[Byte] =
    guardedInflate(
      new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes)),
      maxBytes, "gunzip")

  /** Lenient inflate for ingest paths: a CORRUPT stream (truncated upload,
    * bit rot — IOException) returns null so one bad blob becomes a bad
    * ROW instead of a dead job; the deliberate bomb guard still throws
    * (an attack should be loud, not a silent null). */
  def gunzipLenient(bytes: Array[Byte], maxBytes: Int): Array[Byte] =
    try gunzip(bytes, maxBytes)
    catch { case _: java.io.IOException => null }

  /** [[gunzipLenient]] for zstd. */
  def unzstdLenient(bytes: Array[Byte], maxBytes: Int): Array[Byte] =
    try unzstd(bytes, maxBytes)
    catch { case _: java.io.IOException => null }

  def zstd(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
    val z = new com.github.luben.zstd.ZstdOutputStreamNoFinalizer(bos)
    z.write(bytes)
    z.close()
    bos.toByteArray
  }

  def unzstd(bytes: Array[Byte], maxBytes: Int): Array[Byte] =
    guardedInflate(
      new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
        new java.io.ByteArrayInputStream(bytes)),
      maxBytes, "unzstd")

  private def guardedInflate(in: java.io.InputStream, maxBytes: Int, what: String): Array[Byte] =
    try {
      val out = new java.io.ByteArrayOutputStream(math.min(maxBytes, 1 << 16))
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) {
        if (out.size() + n > maxBytes)
          throw new IllegalArgumentException(
            s"$what: output exceeds maxBytes=$maxBytes — refusing to inflate (decompression-bomb guard)")
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      out.toByteArray
    } finally in.close()
}

case class GzipExpression(child: Expression)
    extends RowKernel("graft_gzip", GzipCodec, "gzip") with UnaryLike[Expression] {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType

  override protected def withNewChildInternal(newChild: Expression): GzipExpression =
    copy(child = newChild)
}

case class GunzipExpression(child: Expression, maxBytes: Int, lenient: Boolean = false)
    extends RowKernel("graft_gunzip", GzipCodec, if (lenient) "gunzipLenient" else "gunzip")
    with UnaryLike[Expression] {
  require(maxBytes > 0, "maxBytes must be positive")

  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override protected def nullResult: Boolean = lenient
  override protected def consts: Seq[Any] = Seq(maxBytes)

  override protected def withNewChildInternal(newChild: Expression): GunzipExpression =
    copy(child = newChild)
}

case class ZstdExpression(child: Expression)
    extends RowKernel("graft_zstd", GzipCodec, "zstd") with UnaryLike[Expression] {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType

  override protected def withNewChildInternal(newChild: Expression): ZstdExpression =
    copy(child = newChild)
}

case class UnzstdExpression(child: Expression, maxBytes: Int, lenient: Boolean = false)
    extends RowKernel("graft_unzstd", GzipCodec, if (lenient) "unzstdLenient" else "unzstd")
    with UnaryLike[Expression] {
  require(maxBytes > 0, "maxBytes must be positive")

  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override protected def nullResult: Boolean = lenient
  override protected def consts: Seq[Any] = Seq(maxBytes)

  override protected def withNewChildInternal(newChild: Expression): UnzstdExpression =
    copy(child = newChild)
}
