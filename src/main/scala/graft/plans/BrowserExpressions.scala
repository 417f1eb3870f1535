package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BooleanType, DataType, StringType, StructField, StructType}

import graft.functions.UaF

/** Fused user-agent kernels — one codegen'd call per row ([[RowKernel]])
  * into the imperative twins in [[graft.functions.UaF]] instead of the Column
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
case class BotMatchExpression(child: Expression)
    extends RowKernel("graft_is_bot", UaF, "isBotRow") with UnaryLike[Expression] {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BooleanType

  override protected def withNewChildInternal(newChild: Expression): BotMatchExpression =
    copy(child = newChild)
}

/** First-match browser family over [[graft.functions.UaF.BrowserRules]];
  * "Robot" for bot UAs, "Unknown" when nothing matches. Null input stays
  * null here; the Column wrapper coalesces to "Unknown" to match the
  * cascade's when-falls-through-to-otherwise semantics. */
case class BrowserFamilyExpression(child: Expression)
    extends RowKernel("graft_browser_family", UaF, "browserFamilyRow") with UnaryLike[Expression] {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType

  override protected def withNewChildInternal(newChild: Expression): BrowserFamilyExpression =
    copy(child = newChild)
}

/** Version of the first matching browser rule (group 1 of the rule's
  * precompiled verRegex), null when the rule carries no version pattern,
  * the pattern does not match, or no rule matches — exactly the
  * `nullif(regexp_extract(...), '')` cascade the Column twin spells. */
case class BrowserVersionExpression(child: Expression)
    extends RowKernel("graft_browser_version", UaF, "browserVersionRow") with UnaryLike[Expression] {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override protected def nullResult: Boolean = true

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
case class UaParseExpression(child: Expression)
    extends RowKernel("graft_ua_parse", UaF, "uaParseRow") with UnaryLike[Expression] {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("br_family", StringType, nullable = false),
    StructField("br_version", StringType),
    StructField("os_family", StringType, nullable = false),
    StructField("dvce_type", StringType, child.nullable),
    StructField("dvce_ismobile", BooleanType, child.nullable),
    StructField("is_bot", BooleanType, child.nullable)))
  override protected def passNulls: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): UaParseExpression =
    copy(child = newChild)
}
