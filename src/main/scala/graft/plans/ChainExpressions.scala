package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}

import graft.functions.EventF

/** Compact kernels for the default enrichment chain.
  *
  * Spark fuses the whole chain into one whole-stage-codegen method, and
  * HotSpot never JIT-compiles a method over 8,000 bytes of bytecode
  * (`-XX:+DontCompileHugeMethods`): past that size every row runs in the
  * bytecode interpreter. Each expression here replaces a stage's per-field
  * Column code with ONE call per row into a Scala row function
  * ([[graft.functions.EventF]], [[graft.sources.Sources]]) through
  * [[RowKernel]], so the generated code per stage is a few child reads and
  * one static call. Each kernel hands nulls to its row function. The Column
  * spellings stay as specification twins, and differential property specs
  * (`PropertySpec`) pin kernel == twin.
  */

/** (event_code, platform_code, res, xff) → struct(event, platform,
  * dvce_screenwidth, dvce_screenheight, user_ipaddress): TrackerTransform's
  * five columns from one call ([[EventF.trackerFieldsRow]]). Field i equals
  * its Column twin: [[EventF.eventTypeFromCode]], [[EventF.platformValidate]],
  * [[EventF.resWidth]], [[EventF.resHeight]] and
  * [[graft.functions.IpF.firstForwardedIp]]. */
case class TrackerFieldsExpression(children: Seq[Expression])
    extends RowKernel("graft_tracker_fields", EventF, "trackerFieldsRow") {
  require(children.size == 4, "graft_tracker_fields takes (event_code, platform_code, res, xff)")

  override def inputTypes: Seq[DataType] = children.map(_ => StringType)
  override def dataType: DataType = TrackerFieldsExpression.Schema
  override protected def passNulls: Boolean = true

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): TrackerFieldsExpression =
    copy(children = cs)
}

object TrackerFieldsExpression {
  val Schema: StructType = StructType(Seq(
    StructField("event", StringType),
    StructField("platform", StringType),
    StructField("dvce_screenwidth", IntegerType),
    StructField("dvce_screenheight", IntegerType),
    StructField("user_ipaddress", StringType)))
}

/** `_sp` → struct(duid, tstamp_us): the cross-navigation pair from one
  * match of `^([^.]+)\.([0-9]+)$` ([[EventF.spPairRow]]); `tstamp_us` is
  * the millis × 1000, null on overflow. Fields equal
  * [[EventF.spDomainUserId]] and [[EventF.spTstampUs]]. */
case class SpPairExpression(child: Expression)
    extends RowKernel("graft_sp_pair", EventF, "spPairRow") with UnaryLike[Expression] {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = SpPairExpression.Schema
  override protected def passNulls: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): SpPairExpression =
    copy(child = newChild)
}

object SpPairExpression {
  val Schema: StructType = StructType(Seq(
    StructField("duid", StringType),
    StructField("tstamp_us", LongType)))
}

/** The event fingerprint as one digest call ([[EventF.fingerprintRow]]):
  * `children` are the param values as strings, in `keys` order (sorted by
  * key). Equals [[EventF.eventFingerprint]]. Nullability follows the twin:
  * sha2 is always nullable, md5/sha1 only when a param is. */
case class FingerprintExpression(children: Seq[Expression], keys: Seq[String], algo: String)
    extends RowKernel("graft_event_fingerprint", EventF, "fingerprintRow") {
  require(keys.size == children.size, "one key per fingerprint param")
  private val algoCode: Int = EventF.fingerprintAlgo(algo)

  override def inputTypes: Seq[DataType] = children.map(_ => StringType)
  override def dataType: DataType = StringType
  override protected def passNulls: Boolean = true
  override protected def nullResult: Boolean = algoCode >= 2 || children.exists(_.nullable)
  override protected def consts: Seq[Any] = Seq(keys.map(_.getBytes("UTF-8")).toArray, algoCode)

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): FingerprintExpression =
    copy(children = cs)
}

/** FieldLengthValidator in one pass ([[EventF.fieldLengthsRow]]):
  * `children` are the limited fields as strings, then the prior
  * `bad_row_errors`. Returns struct(truncated field₁, …, field_n,
  * bad_row_errors) when `truncate`, else struct(bad_row_errors). A field
  * over its limit is cut to `max` chars and appends one
  * `length_violation` entity, in field order; with no violation the prior
  * errors array passes through untouched. */
case class FieldLengthsExpression(
  children: Seq[Expression],
  names: Seq[String],
  limits: Seq[Int],
  truncate: Boolean,
  enrichment: String
) extends RowKernel("graft_field_validate", EventF, "fieldLengthsRow") {
  require(names.size == limits.size && children.size == names.size + 1,
    "one limit per field, then the prior errors")

  private def fields = children.init
  private def prev = children.last

  override def inputTypes: Seq[DataType] = fields.map(_ => StringType) :+ FieldLengthsExpression.ErrorsType
  override def dataType: DataType = StructType(
    (if (truncate) names.zip(fields).map { case (n, e) => StructField(n, StringType, e.nullable) } else Nil) :+
      StructField("bad_row_errors", FieldLengthsExpression.ErrorsType, prev.nullable))
  override protected def passNulls: Boolean = true
  override protected def consts: Seq[Any] = Seq(EventF.FieldLengthsSpec(names, limits, truncate, enrichment))

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): FieldLengthsExpression =
    copy(children = cs)
}

object FieldLengthsExpression {
  val ErrorsType: DataType =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(graft.enrich.Enrichment.FailureEntityType)
}

/** line → struct(field₁, …, field_n): the first n tab-separated fields of
  * a collector TSV line from one split ([[graft.sources.Sources.collectorTsvRow]]),
  * each equal to `try_element_at(split(line, "\t"), i)`. */
case class CollectorTsvExpression(child: Expression, names: Seq[String])
    extends RowKernel("graft_collector_tsv", graft.sources.Sources, "collectorTsvRow") with UnaryLike[Expression] {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StructType(names.map(StructField(_, StringType)))
  override protected def passNulls: Boolean = true
  override protected def consts: Seq[Any] = Seq(names.size)

  override protected def withNewChildInternal(newChild: Expression): CollectorTsvExpression =
    copy(child = newChild)
}
