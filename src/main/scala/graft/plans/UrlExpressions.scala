package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}

import graft.functions.{RefF, UrlF}

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
  * subexpression elimination. Each is a [[RowKernel]].
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
case class UrlParseExpression(child: Expression)
    extends RowKernel("graft_url_parse", UrlF, "parseUrlRow") with UnaryLike[Expression] {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = UrlParseExpression.Schema

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
    extends RowKernel("graft_campaign_attribution", UrlF, "campaignRow") with UnaryLike[Expression] {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = CampaignAttributionExpression.Schema
  override protected def consts: Seq[Any] = Seq(cfg)

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
  * call ([[RefF.refererRow]]). `pageHost` may be null (no page host ⇒ not
  * internal), so both values reach the row function: only a null REFERER
  * nulls the result. */
case class RefererParseExpression(
  left: Expression,
  right: Expression,
  internalDomains: Seq[String]
) extends RowKernel("graft_referer_parse", RefF, "refererRow") with BinaryLike[Expression] {
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = RefererParseExpression.Schema
  override protected def passNulls: Boolean = true
  override protected def nullResult: Boolean = left.nullable
  override protected def consts: Seq[Any] = Seq(internalDomains)

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
case class TrackerParamsExpression(child: Expression, keys: Seq[String])
    extends RowKernel("graft_tracker_params", UrlF, "trackerParamsRow") with UnaryLike[Expression] {
  require(keys.forall(k => k.nonEmpty && !k.exists(c => c == '&' || c == '=')),
    s"tracker parameter names must be non-empty and hold no '&' or '=': $keys")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StructType(keys.map(StructField(_, StringType)))
  override protected def consts: Seq[Any] = Seq(keys.toArray)

  override protected def withNewChildInternal(newChild: Expression): TrackerParamsExpression =
    copy(child = newChild)
}
