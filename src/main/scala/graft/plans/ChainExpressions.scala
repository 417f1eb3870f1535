package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.EventF

/** Compact kernels for the default enrichment chain.
  *
  * Spark fuses the whole chain into one whole-stage-codegen method, and
  * HotSpot never JIT-compiles a method over 8,000 bytes of bytecode
  * (`-XX:+DontCompileHugeMethods`): past that size every row runs in the
  * bytecode interpreter. Each expression here replaces a stage's per-field
  * Column code with ONE call per row into a Scala row function
  * ([[graft.functions.EventF]], [[graft.sources.Sources]]), so the
  * generated code per stage is a few child reads and one static call. The
  * Column spellings stay as specification twins, and differential property
  * specs (`PropertySpec`) pin kernel == twin.
  */

/** Shared codegen: evaluate every child, pass the values (null where the
  * child is null) to one row function. */
private[plans] object KernelCall {
  def gen(ctx: CodegenContext, ev: ExprCode, children: Seq[Expression], javaType: String,
      call: Seq[String] => String): ExprCode = {
    val cs = children.map(_.genCode(ctx))
    val args = cs.zip(children).map { case (c, e) =>
      s"(${c.isNull} ? null : (${CodeGenerator.boxedType(e.dataType)}) ${c.value})"
    }
    ev.copy(isNull = FalseLiteral, code = code"""
      ${cs.map(_.code).reduceOption(_ + _).getOrElse(EmptyBlock)}
      $javaType ${ev.value} = ${call(args)};""")
  }

  def stringsOnly(prettyName: String, children: Seq[Expression]): TypeCheckResult =
    children.find(_.dataType != StringType) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(e) => TypeCheckResult.TypeCheckFailure(s"$prettyName requires string inputs, got ${e.dataType}")
    }
}

/** (event_code, platform_code, res, xff) → struct(event, platform,
  * dvce_screenwidth, dvce_screenheight, user_ipaddress): TrackerTransform's
  * five columns from one call ([[EventF.trackerFieldsRow]]). Field i equals
  * its Column twin: [[EventF.eventTypeFromCode]], [[EventF.platformValidate]],
  * [[EventF.resWidth]], [[EventF.resHeight]] and
  * [[graft.functions.IpF.firstForwardedIp]]. */
case class TrackerFieldsExpression(children: Seq[Expression]) extends Expression {
  require(children.size == 4, "graft_tracker_fields takes (event_code, platform_code, res, xff)")

  override def checkInputDataTypes(): TypeCheckResult = KernelCall.stringsOnly(prettyName, children)
  override def dataType: DataType = TrackerFieldsExpression.Schema
  override def nullable: Boolean = false
  override def prettyName: String = "graft_tracker_fields"

  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input).asInstanceOf[UTF8String])
    EventF.trackerFieldsRow(v(0), v(1), v(2), v(3))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    KernelCall.gen(ctx, ev, children, "org.apache.spark.sql.catalyst.InternalRow",
      a => s"graft.functions.EventF$$.MODULE$$.trackerFieldsRow(${a.mkString(", ")})")

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
case class SpPairExpression(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = KernelCall.stringsOnly(prettyName, Seq(child))
  override def dataType: DataType = SpPairExpression.Schema
  override def nullable: Boolean = false
  override def prettyName: String = "graft_sp_pair"

  override def eval(input: InternalRow): Any =
    EventF.spPairRow(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    KernelCall.gen(ctx, ev, Seq(child), "org.apache.spark.sql.catalyst.InternalRow",
      a => s"graft.functions.EventF$$.MODULE$$.spPairRow(${a.head})")

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
    extends Expression {
  require(keys.size == children.size, "one key per fingerprint param")
  private val algoCode: Int = EventF.fingerprintAlgo(algo)

  override def checkInputDataTypes(): TypeCheckResult = KernelCall.stringsOnly(prettyName, children)
  override def dataType: DataType = StringType
  override def nullable: Boolean = algoCode >= 2 || children.exists(_.nullable)
  override def prettyName: String = "graft_event_fingerprint"

  @transient private lazy val keyBytes: Array[Array[Byte]] = keys.map(_.getBytes("UTF-8")).toArray

  override def eval(input: InternalRow): Any =
    EventF.fingerprintRow(children.map(_.eval(input).asInstanceOf[UTF8String]).toArray, keyBytes, algoCode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keysRef = ctx.addReferenceObj("fingerprintKeys", keyBytes, "byte[][]")
    KernelCall.gen(ctx, ev, children, "UTF8String", a =>
      s"graft.functions.EventF$$.MODULE$$.fingerprintRow(new UTF8String[] {${a.mkString(", ")}}, $keysRef, $algoCode)")
  }

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
) extends Expression {
  require(names.size == limits.size && children.size == names.size + 1,
    "one limit per field, then the prior errors")

  private def fields = children.init
  private def prev = children.last

  override def checkInputDataTypes(): TypeCheckResult =
    if (prev.dataType != FieldLengthsExpression.ErrorsType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs ${FieldLengthsExpression.ErrorsType} errors, got ${prev.dataType}")
    else KernelCall.stringsOnly(prettyName, fields)

  override def dataType: DataType = StructType(
    (if (truncate) names.zip(fields).map { case (n, e) => StructField(n, StringType, e.nullable) } else Nil) :+
      StructField("bad_row_errors", FieldLengthsExpression.ErrorsType, prev.nullable))
  override def nullable: Boolean = false
  override def prettyName: String = "graft_field_validate"

  @transient private lazy val spec: EventF.FieldLengthsSpec =
    EventF.FieldLengthsSpec(names, limits, truncate, enrichment)

  override def eval(input: InternalRow): Any =
    EventF.fieldLengthsRow(fields.map(_.eval(input).asInstanceOf[UTF8String]).toArray,
      prev.eval(input).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], spec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val specRef = ctx.addReferenceObj("fieldLengthsSpec", spec, classOf[EventF.FieldLengthsSpec].getName)
    KernelCall.gen(ctx, ev, children, "org.apache.spark.sql.catalyst.InternalRow", a =>
      s"graft.functions.EventF$$.MODULE$$.fieldLengthsRow(new UTF8String[] {${a.init.mkString(", ")}}, ${a.last}, $specRef)")
  }

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
case class CollectorTsvExpression(child: Expression, names: Seq[String]) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = KernelCall.stringsOnly(prettyName, Seq(child))
  override def dataType: DataType = StructType(names.map(StructField(_, StringType)))
  override def nullable: Boolean = false
  override def prettyName: String = "graft_collector_tsv"

  override def eval(input: InternalRow): Any =
    graft.sources.Sources.collectorTsvRow(child.eval(input).asInstanceOf[UTF8String], names.size)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    KernelCall.gen(ctx, ev, Seq(child), "org.apache.spark.sql.catalyst.InternalRow",
      a => s"graft.sources.Sources$$.MODULE$$.collectorTsvRow(${a.head}, ${names.size})")

  override protected def withNewChildInternal(newChild: Expression): CollectorTsvExpression =
    copy(child = newChild)
}
