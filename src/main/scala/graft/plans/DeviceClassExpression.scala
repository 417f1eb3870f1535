package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, StringType}

/** Fused device-class kernel — one codegen'd call into
  * [[graft.functions.UaF.deviceClassRow]] per row instead of the four
  * regex-alternation scans the Column cascade runs (bot tokens, consoles,
  * TVs, tablet models). Every alternation is a literal-token list, so the
  * kernel uses indexOf scans; only the two genuinely patterned tables
  * (AFT fire-TV models, tablet models) stay precompiled regexes.
  *
  * Semantics are YAUAA's coarse device classes (reference
  * `registry/YauaaEnrichment.scala`), pinned by the YauaaEnrichmentSpec
  * vector table, the extended-UA table, a differential property spec
  * against the Column twin (`UaF.deviceClassColumns`), and the
  * ua_device_class / enrich_pipeline DuckDB oracles.
  */
case class DeviceClassExpression(child: Expression)
    extends RowKernel("graft_device_class", graft.functions.UaF, "deviceClassRow") with UnaryLike[Expression] {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType

  override protected def withNewChildInternal(newChild: Expression): DeviceClassExpression =
    copy(child = newChild)
}
