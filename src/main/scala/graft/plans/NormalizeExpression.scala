package graft.plans

import java.text.Normalizer

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd Unicode normalization (NFC / NFD / NFKC / NFKD) — the
  * text-canonicalization pass a training-data pipeline runs before hashing,
  * dedup, or tokenization (decomposed `e` + U+0301 and precomposed U+00E9
  * must land in the same dedup bucket; ligature/width folding is the NFKC
  * half). Spark ships no normalizer function; the composable alternative is
  * a UDF, which breaks whole-stage codegen.
  *
  * Fast path: an all-ASCII string (numBytes == numChars) is already in every
  * normal form — no JDK call, no allocation. That is the overwhelmingly
  * common case in a web corpus and keeps the kernel nearly free inside a
  * codegen'd stage ([[RowKernel]]). The DuckDB oracle twin is
  * `nfc_normalize()`; both sides implement the same Unicode normalization
  * spec, so results are
  * byte-identical (pinned over planted decomposed/ligature inputs in
  * FunctionsSpec and the `text_normalize` oracle query).
  */
case class NormalizeExpression(child: Expression, form: String)
    extends RowKernel("graft_normalize", NormalizeExpression, "normalize") with UnaryLike[Expression] {

  private val normForm: Normalizer.Form = form.toUpperCase match {
    case "NFC" => Normalizer.Form.NFC
    case "NFD" => Normalizer.Form.NFD
    case "NFKC" => Normalizer.Form.NFKC
    case "NFKD" => Normalizer.Form.NFKD
    case other => throw new IllegalArgumentException(
      s"graft_normalize form must be NFC|NFD|NFKC|NFKD, got $other")
  }

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override protected def consts: Seq[Any] = Seq(normForm)

  override protected def withNewChildInternal(newChild: Expression): NormalizeExpression =
    copy(child = newChild)
}

object NormalizeExpression {
  /** The row function. */
  def normalize(s: UTF8String, form: Normalizer.Form): UTF8String =
    if (s.numBytes == s.numChars) s // all-ASCII: already normalized
    else UTF8String.fromString(Normalizer.normalize(s.toString, form))
}
