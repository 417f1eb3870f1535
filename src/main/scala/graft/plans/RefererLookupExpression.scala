package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}

/** referer-parser database lookup: (host, path) → source id into
  * [[graft.functions.RefererDbData.Sources]], or -1 when the referer is
  * unknown.
  *
  * Capability twin of snowplow/enrich
  * `enrichments/registry/RefererParserEnrichment.scala:100` (which delegates
  * to the public referer-parser library). The candidate order is the
  * library's: first every host suffix with the path (full path, then first
  * path segment), then every host suffix bare — see
  * [[graft.functions.RefererDb.lookupIdx]].
  *
  * A codegen'd static call against a per-JVM hash map: O(#host-labels)
  * probes per row, no join, no shuffle, and no thousand-branch CASE cascade
  * (which Janino refuses to compile at this database size). The database
  * rides into executors as class data, not a broadcast — it is part of the
  * library, like a charset table.
  */
case class RefererLookupExpression(left: Expression, right: Expression)
    extends RowKernel("graft_referer_lookup", graft.functions.RefererDb, "lookupIdx") with BinaryLike[Expression] {
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = IntegerType

  override protected def withNewChildrenInternal(
    newLeft: Expression,
    newRight: Expression
  ): RefererLookupExpression = copy(left = newLeft, right = newRight)
}
