package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused user-agent kernels — one codegen'd call per row into the
  * imperative twins in [[graft.functions.UaF]] instead of the Column
  * cascades they replace (r15 optimization round; guide §1.2 "per-task
  * work" / §4 "prefer codegen-friendly expressions").
  *
  * Measured at sf0.1 (100k events, single scan task): the Column
  * `lower(ua) rlike BotRegex` alternation alone cost 3.8 s per pass and the
  * full browser-family cascade 4.8 s, against 0.28 s for the fused
  * device-class kernel doing strictly more work — java.util.regex
  * alternation over ~44 literal tokens is ~40 µs/row while an indexOf token
  * scan is <1 µs/row. Every full-enrichment-chain query pays these
  * expressions per event, so the same per-row ratio holds at 100 TB.
  *
  * Semantics are pinned three ways, like DeviceClassExpression: the Column
  * specification twins stay in UaF (`isBotColumns`, `browserFamilyColumns`,
  * `browserVersionColumns`), a differential property spec asserts
  * kernel == twin over the UA universe plus token soups, and the DuckDB
  * oracles (built from the same rule tables via the SQL emitters) gate every
  * query output end-to-end.
  */

/** True iff lower(ua) contains any bot token — fused twin of
  * `lower(ua) rlike BotRegex` (every token is a literal). */
case class BotMatchExpression(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input, got ${child.dataType}")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_is_bot"

  override protected def nullSafeEval(ua: Any): Any =
    graft.functions.UaF.isBotString(ua.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.UaF$$.MODULE$$.isBotString($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): BotMatchExpression =
    copy(child = newChild)
}

/** First-match browser family over [[graft.functions.UaF.BrowserRules]];
  * "Robot" for bot UAs, "Unknown" when nothing matches. Null input stays
  * null here; the Column wrapper coalesces to "Unknown" to match the
  * cascade's when-falls-through-to-otherwise semantics. */
case class BrowserFamilyExpression(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input, got ${child.dataType}")

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_browser_family"

  override protected def nullSafeEval(ua: Any): Any =
    UTF8String.fromString(
      graft.functions.UaF.browserFamilyString(ua.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"UTF8String.fromString(graft.functions.UaF$$.MODULE$$.browserFamilyString($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): BrowserFamilyExpression =
    copy(child = newChild)
}

/** Version of the first matching browser rule (group 1 of the rule's
  * precompiled verRegex), null when the rule carries no version pattern,
  * the pattern does not match, or no rule matches — exactly the
  * `nullif(regexp_extract(...), '')` cascade the Column twin spells. */
case class BrowserVersionExpression(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input, got ${child.dataType}")

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_browser_version"

  override protected def nullSafeEval(ua: Any): Any = {
    val v = graft.functions.UaF.browserVersionString(ua.asInstanceOf[UTF8String].toString)
    if (v == null) null else UTF8String.fromString(v)
  }

  override def nullable: Boolean = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |String ${ev.value}Str = graft.functions.UaF$$.MODULE$$.browserVersionString($c.toString());
         |if (${ev.value}Str == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = UTF8String.fromString(${ev.value}Str);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): BrowserVersionExpression =
    copy(child = newChild)
}

/** ua → struct(br_family, br_version, os_family, dvce_type, dvce_ismobile,
  * is_bot): every `UaParser` column from one UTF-8 decode, one lower-cased
  * bot scan and one browser-rule walk ([[graft.functions.UaF.uaParseRow]])
  * where the single-column kernels above each rescan the UA. A null UA
  * yields "Unknown" for the family and the OS (their cascades end in
  * `otherwise`) and null elsewhere, so the struct itself is never null and
  * each field keeps its Column twin's nullability. */
case class UaParseExpression(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input, got ${child.dataType}")

  override def dataType: DataType = StructType(Seq(
    StructField("br_family", StringType, nullable = false),
    StructField("br_version", StringType),
    StructField("os_family", StringType, nullable = false),
    StructField("dvce_type", StringType, child.nullable),
    StructField("dvce_ismobile", BooleanType, child.nullable),
    StructField("is_bot", BooleanType, child.nullable)))
  override def nullable: Boolean = false
  override def prettyName: String = "graft_ua_parse"

  override def eval(input: InternalRow): Any =
    graft.functions.UaF.uaParseRow(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.InternalRow ${ev.value} = graft.functions.UaF$$.MODULE$$.uaParseRow(
        ${c.isNull} ? null : ${c.value});""")
  }

  override protected def withNewChildInternal(newChild: Expression): UaParseExpression =
    copy(child = newChild)
}
