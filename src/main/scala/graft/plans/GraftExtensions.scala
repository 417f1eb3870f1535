package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.{EventF, IpF, TextF, UaF}

/** SQL-surface registration of graft kernels — lets `spark.sql` users call
  * enrichment primitives directly:
  *
  * {{{
  * spark.sql("SELECT graft_anon_ip(ip, 2), graft_token_count(text) FROM t")
  * }}}
  *
  * Two entry points, both attaching [[GraftFunctions.all]],
  * [[GraftFunctions.strategies]] and [[GraftFunctions.rules]]:
  *  - `.withExtensions(new GraftExtensions)` /
  *    `spark.sql.extensions=graft.plans.GraftExtensions` at session build;
  *  - [[GraftFunctions.install]] on a live session.
  *
  * Kernel-backed functions are expression *builders*: each call site expands
  * to the same codegen'd expression tree the Column API produces, so SQL
  * users pay zero overhead vs the Scala API (and there are no UDFs anywhere).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    GraftFunctions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    GraftFunctions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}

object GraftFunctions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  private def strArg(e: Expression, what: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  private def fn(
    name: String,
    usage: String,
    builder: Seq[Expression] => Expression
  ): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo("graft", null, name, usage, ""),
      (exprs: Seq[Expression]) => builder(exprs))

  private def c(e: Expression) = ColumnBridge.column(e)
  private def x(col: org.apache.spark.sql.Column) = ColumnBridge.expression(col)

  val all: Seq[(FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder)] = Seq(
    fn("graft_shingles", "graft_shingles(tokens, k)",
      es => ShinglesExpression(es.head, intArg(es(1), "k"))),
    fn("graft_anon_ip", "graft_anon_ip(ip, octets)",
      es => x(IpF.anonIpv4(c(es.head), intArg(es(1), "octets")))),
    fn("graft_first_xff_ip", "graft_first_xff_ip(xff)",
      es => x(IpF.firstForwardedIp(c(es.head)))),
    fn("graft_event_type", "graft_event_type(code)",
      es => x(EventF.eventTypeFromCode(c(es.head)))),
    fn("graft_token_count", "graft_token_count(text)",
      es => x(TextF.tokenCount(c(es.head)))),
    fn("graft_doc_fingerprint", "graft_doc_fingerprint(text)",
      es => x(TextF.docFingerprint(c(es.head)))),
    fn("graft_simhash16", "graft_simhash16(text)",
      es => x(TextF.simhash16(c(es.head)))),
    fn("graft_browser_family", "graft_browser_family(ua)",
      es => x(UaF.browserFamily(c(es.head)))),
    fn("graft_device_class", "graft_device_class(ua)",
      es => x(UaF.deviceClass(c(es.head)))),
    // round-5 kernels
    fn("graft_scrub_pii", "graft_scrub_pii(text)",
      es => x(TextF.scrubPii(c(es.head)))),
    fn("graft_canonical_url", "graft_canonical_url(url)",
      es => x(graft.functions.UrlF.canonicalizeUrl(c(es.head)))),
    fn("graft_ipv6_lo64", "graft_ipv6_lo64(ip)",
      es => x(IpF.ipv6Lo64Dec(c(es.head)))),
    fn("graft_ipv6_prefix", "graft_ipv6_prefix(ip)",
      es => x(IpF.ipv6PrefixCanonical(c(es.head)))),
    // round-5 continuation: Unicode normalization (form defaults to NFC)
    fn("graft_normalize", "graft_normalize(text[, form])",
      es => NormalizeExpression(es.head,
        if (es.length > 1) strArg(es(1), "form") else "NFC")),
    // z-order clustering key (bits defaults to 16 per dimension)
    fn("graft_zorder_key", "graft_zorder_key(x, y[, bits])",
      es => x(graft.functions.LayoutF.zInterleave(c(es(0)), c(es(1)),
        if (es.length > 2) intArg(es(2), "bits") else 16))),
    // round-7: winnowing fingerprint selection (sorted distinct window minima)
    fn("graft_winnow", "graft_winnow(hashes, w)",
      es => WinnowExpression(es.head, intArg(es(1), "w")))
    ,
    // round-8: the fused SimHash kernel (bits defaults to the 60-bit
    // banding-grade width; any multiple of 4 up to 64 accepted) and the
    // Rabin-Karp rolling document hash
    fn("graft_simhash", "graft_simhash(text[, bits])",
      es => SimHashExpression(x(TextF.tokens(c(es.head))),
        if (es.length > 1) intArg(es(1), "bits") else 60)),
    fn("graft_rolling_hash", "graft_rolling_hash(text)",
      es => x(TextF.rollingHash(c(es.head)))),
    // round-9: exact bitmap distinct-count aggregate (single-shuffle
    // mergeable partials vs count(DISTINCT)'s two-shuffle expansion)
    fn("graft_bitmap_distinct", "graft_bitmap_distinct(x)",
      es => BitmapDistinct(es.head)),
    fn("graft_array_sum", "graft_array_sum(arr)",
      es => ArraySum(es.head)),
    fn("graft_bitmap_bytes", "graft_bitmap_bytes(x)",
      es => BitmapBytes(es.head)),
    fn("graft_bitmap_and_count", "graft_bitmap_and_count(a, b)",
      es => BitmapAndCardinality(es(0), es(1))),
    // round-9: native HLL — single-shuffle register sketch over the repo's
    // canonical 60-bit hash, mergeable upward (day → week) via max
    fn("graft_hll_registers", "graft_hll_registers(v)",
      es => HllRegisters(es.head)),
    fn("graft_hll_merge", "graft_hll_merge(regs)",
      es => HllMerge(es.head)),
    fn("graft_hll_summary", "graft_hll_summary(regs)",
      es => HllSummary(es.head)),
    // round-9: native KMV — k smallest distinct values as a sorted array
    // (distinctness in-state: one shuffle replaces distinct + rank window)
    fn("graft_kmv_mink", "graft_kmv_mink(v, k)",
      es => KmvMinK(es.head, intArg(es(1), "k"))),
    // round-11: collector-payload codecs (gzip JDK, zstd via zstd-jni)
    // with the decompression-bomb guard on the inflate side
    fn("graft_gzip", "graft_gzip(bin)",
      es => GzipExpression(es.head)),
    fn("graft_gunzip", "graft_gunzip(bin[, max_bytes])",
      es => GunzipExpression(es.head,
        if (es.length > 1) intArg(es(1), "max_bytes") else 1 << 20)),
    fn("graft_zstd", "graft_zstd(bin)",
      es => ZstdExpression(es.head)),
    fn("graft_unzstd", "graft_unzstd(bin[, max_bytes])",
      es => UnzstdExpression(es.head,
        if (es.length > 1) intArg(es(1), "max_bytes") else 1 << 20)),
    // round-12: native bounded top-k — rank-ordered (key DESC, tie ASC)
    // pairs in one map-side-combined shuffle vs the rank window's
    // full-group exchange + sort
    fn("graft_top_k", "graft_top_k(key, tie, k)",
      es => TopKRows(es(0), es(1), intArg(es(2), "k")))
  )

  /** Column-API surface of [[BitmapDistinct]]. */
  def bitmapDistinct(col: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c(BitmapDistinct(x(col)).toAggregateExpression())

  /** Column-API surface of [[ArraySum]] (elementwise BIGINT-array sum). */
  def arraySum(col: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c(ArraySum(x(col)).toAggregateExpression())

  /** Column-API surface of [[OuterProductExpression]] (q ⊗ q, flattened). */
  def outerProduct(col: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c(OuterProductExpression(x(col)))

  /** Column-API surface of [[BitmapBytes]] (serialized audience bitmap). */
  def bitmapBytes(col: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c(BitmapBytes(x(col)).toAggregateExpression())

  /** Column-API surface of [[BitmapAndCardinality]] (intersection size). */
  def bitmapAndCount(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c(BitmapAndCardinality(x(a), x(b)))

  /** Column-API surface of [[HllRegisters]] (64-byte HLL sketch blob). */
  def hllRegisters(col: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c(HllRegisters(x(col)).toAggregateExpression())

  /** Column-API surface of [[HllMerge]] (register-blob reaggregation). */
  def hllMerge(col: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c(HllMerge(x(col)).toAggregateExpression())

  /** Column-API surface of [[HllSummary]] (struct(n_set, s, est_hll)). */
  def hllSummary(col: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c(HllSummary(x(col)))

  /** Column-API surface of [[KmvMinK]] (sorted k-min distinct values). */
  def kmvMinK(col: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    c(KmvMinK(x(col), k).toAggregateExpression())

  /** Column-API surface of [[TopKRows]] (rank-ordered top-k pairs). */
  def topK(key: org.apache.spark.sql.Column, tie: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    c(TopKRows(x(key), x(tie), k).toAggregateExpression())

  /** graft's planner strategies (native as-of and interval joins, the
    * split barrier). */
  val strategies: Seq[SparkStrategy] = Seq(AsOfJoinStrategy, IntervalJoinStrategy, SplitBarrierStrategy)

  /** graft's optimizer rules; each is off unless its session conf is set. */
  val rules: Seq[Rule[LogicalPlan]] = Seq(BitmapDistinctRewrite, TopKRewrite)

  /** Attach every graft SQL function, strategy and rule to a live session.
    * Idempotent: a strategy or rule already present is not added again. */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (ident, info, builder) =>
      registry.registerFunction(ident, info, builder)
    }
    val exp = spark.experimental
    exp.extraStrategies = exp.extraStrategies ++ strategies.filterNot(exp.extraStrategies.contains)
    exp.extraOptimizations = exp.extraOptimizations ++ rules.filterNot(exp.extraOptimizations.contains)
  }
}
