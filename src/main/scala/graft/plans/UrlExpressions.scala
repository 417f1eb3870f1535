package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.UrlF

/** Fused URL / campaign / referer kernels (r16 optimization round; guide
  * §1.2 "per-task work" / §4 "prefer codegen-friendly expressions").
  *
  * The enrichment chain's middle stages were regex towers: PageUrlParse ran
  * six `regexp_extract`s over page_url, CampaignAttribution ~18 more over
  * the querystring, RefererParser re-parsed the referer URL for each of its
  * three outputs (per-stage noop-sink marginals at sf0.1: ~1.2 + ~3.4 +
  * ~4.4 s per pass — the dominant per-row cost after the r15 UA kernels;
  * `perfbench --trace 1` reports the same marginals as `enrich.stage.*_s`). Each expression
  * here is ONE codegen'd call per row into an imperative twin
  * ([[UrlF.parseUrlParts]], [[UrlF.campaignRow]],
  * [[graft.functions.RefF.refererRow]]); multiple `getField` consumers of
  * the same struct collapse to one evaluation under whole-stage-codegen
  * subexpression elimination.
  *
  * Semantics are pinned the same three ways as the UA kernels: the regex
  * Column spellings remain as `*Spec` specification twins, a differential
  * property spec asserts kernel == twin over a URL universe, and the DuckDB
  * oracles (independent regex SQL) gate every query output end-to-end.
  */

/** url → struct(scheme, host, port, eport, path, query, fragment): the six
  * `nullif(regexp_extract(...), '')` URL parts in one pass. `eport` is the
  * raw explicit-port digit run (canonicalizeUrl needs it verbatim); `port`
  * applies try_cast + the scheme defaults. */
case class UrlParseExpression(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input, got ${child.dataType}")

  override def dataType: DataType = UrlParseExpression.Schema
  override def prettyName: String = "graft_url_parse"

  override protected def nullSafeEval(u: Any): Any =
    UrlF.parseUrlRow(u.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.UrlF$$.MODULE$$.parseUrlRow($c)")

  override protected def withNewChildInternal(newChild: Expression): UrlParseExpression =
    copy(child = newChild)
}

object UrlParseExpression {
  val Schema: StructType = StructType(Seq(
    StructField("scheme", StringType),
    StructField("host", StringType),
    StructField("port", IntegerType),
    StructField("eport", StringType),
    StructField("path", StringType),
    StructField("query", StringType),
    StructField("fragment", StringType)))
}

/** querystring → struct(medium, source, term, content, campaign, clickid,
  * network): the whole campaign-attribution extraction (first-present-key
  * pick per field + form decode + click-id network cascade) in one pass
  * over the querystring instead of ~18 regex finds. */
case class CampaignAttributionExpression(child: Expression, cfg: UrlF.CampaignCfg)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input, got ${child.dataType}")

  override def dataType: DataType = CampaignAttributionExpression.Schema
  override def prettyName: String = "graft_campaign_attribution"

  override protected def nullSafeEval(qs: Any): Any =
    UrlF.campaignRow(qs.asInstanceOf[UTF8String], cfg)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cfgRef = ctx.addReferenceObj("campaignCfg", cfg, classOf[UrlF.CampaignCfg].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.UrlF$$.MODULE$$.campaignRow($c, $cfgRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): CampaignAttributionExpression =
    copy(child = newChild)
}

object CampaignAttributionExpression {
  val Schema: StructType = StructType(
    Seq("medium", "source", "term", "content", "campaign", "clickid", "network")
      .map(StructField(_, StringType)))
}

/** (refrUrl, pageHost) → struct(host, medium, source, term): the whole
  * referer classification — referer URL parse, internal-domain check, db
  * probe, medium/source pick, term extract+decode+fixup — in one kernel
  * call. `pageHost` may be null (no page host ⇒ not internal), so this
  * expression manages its own null semantics: only a null REFERER nulls
  * the result. */
case class RefererParseExpression(
  left: Expression,
  right: Expression,
  internalDomains: Seq[String]
) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string refrUrl, string pageHost), got (${left.dataType}, ${right.dataType})")

  override def dataType: DataType = RefererParseExpression.Schema
  override def prettyName: String = "graft_referer_parse"
  override def nullable: Boolean = left.nullable

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val r = left.eval(input)
    if (r == null) null
    else graft.functions.RefF.refererRow(
      r.asInstanceOf[UTF8String],
      right.eval(input).asInstanceOf[UTF8String],
      internalDomains)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val domRef = ctx.addReferenceObj(
      "internalDomains", internalDomains, "scala.collection.immutable.Seq")
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val row = "org.apache.spark.sql.catalyst.InternalRow"
    ev.copy(code = code"""
      ${leftGen.code}
      boolean ${ev.isNull} = ${leftGen.isNull};
      $row ${ev.value} = null;
      if (!${ev.isNull}) {
        ${rightGen.code}
        ${ev.value} = graft.functions.RefF$$.MODULE$$.refererRow(
          ${leftGen.value}, ${rightGen.isNull} ? null : ${rightGen.value}, $domRef);
      }""")
  }

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): RefererParseExpression =
    copy(left = newLeft, right = newRight)
}

object RefererParseExpression {
  val Schema: StructType = StructType(
    Seq("host", "medium", "source", "term").map(StructField(_, StringType)))
}

/** querystring → struct(key₁, …, keyₙ): the raw tracker-protocol values
  * `Protocol.fromCollector` reads, from ONE walk over the querystring
  * ([[UrlF.qsParamsRaw]]) instead of one `regexp_extract` scan per key.
  * Field i equals `UrlF.qsParam(qs, keys(i))` — first pair named keyᵢ wins,
  * an empty first value is null — and a null querystring nulls the struct. */
case class TrackerParamsExpression(child: Expression, keys: Seq[String]) extends UnaryExpression {
  require(keys.forall(k => k.nonEmpty && !k.exists(c => c == '&' || c == '=')),
    s"tracker parameter names must be non-empty and hold no '&' or '=': $keys")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input, got ${child.dataType}")

  override def dataType: DataType = StructType(keys.map(StructField(_, StringType)))
  override def prettyName: String = "graft_tracker_params"

  @transient private lazy val keyArr: Array[String] = keys.toArray

  override protected def nullSafeEval(qs: Any): Any =
    UrlF.trackerParamsRow(qs.asInstanceOf[UTF8String], keyArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keysRef = ctx.addReferenceObj("trackerKeys", keyArr, "java.lang.String[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.UrlF$$.MODULE$$.trackerParamsRow($c, $keysRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): TrackerParamsExpression =
    copy(child = newChild)
}
