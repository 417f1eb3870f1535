package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types.{DataType, StringType}

import graft.enrich.IabFiles

/** Codegen'd IAB spiders-and-robots check (reference
  * `registry/IabEnrichment.scala` performCheck): `(ua, ip)` →
  * `"reason|primaryImpact"`. The parsed file config rides along as a
  * codegen reference object — one driver-side parse, zero per-record file
  * access; the IP check is a binary search over merged CIDR intervals so
  * the full ~40k-line membership file costs O(log n) per row. A
  * [[RowKernel]] over [[IabFiles.checkRow]], like [[DeviceClassExpression]];
  * null ua or ip → null result (the reference likewise requires both). */
case class IabCheckExpression(
  left: Expression,
  right: Expression,
  cfg: IabFiles.Config
) extends RowKernel("graft_iab_check", IabFiles, "checkRow") with BinaryLike[Expression] {
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = StringType
  override protected def consts: Seq[Any] = Seq(cfg)

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): IabCheckExpression =
    copy(left = newLeft, right = newRight)
}
