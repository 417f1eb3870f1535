package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, StringType}

/** Fused IP pseudonymization kernel — one codegen'd call into
  * [[graft.functions.IpF.anonIpRow]] per row instead of the ~10
  * regex/split/array built-ins the Column routing composes (v4/v6 routing,
  * mixed-notation normalize, `::` expansion, pad-to-8 fail-closed, masking).
  *
  * Semantics are the reference's `registry/AnonIpEnrichment.scala:131`,
  * pinned by the AnonIpEnrichmentSpec vector table in ReferenceVectorsSpec
  * and the anon_ip / enrich_pipeline DuckDB oracles; the readable Column
  * specification twin survives as `IpF.anonIpColumns`.
  */
case class AnonIpExpression(child: Expression, octets: Int, segments: Int)
    extends RowKernel("graft_anon_ip", graft.functions.IpF, "anonIpRow") with UnaryLike[Expression] {

  require(octets >= 1 && octets <= 4, "octets must be 1..4")
  require(segments >= 1 && segments <= 8, "segments must be 1..8")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override protected def consts: Seq[Any] = Seq(octets, segments)

  override protected def withNewChildInternal(newChild: Expression): AnonIpExpression =
    copy(child = newChild)
}
