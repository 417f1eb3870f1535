package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Catalyst optimizer rule: rewrite the rank-window top-k-per-group idiom
  *
  * {{{
  * SELECT g..., key, tie, rk FROM (
  *   SELECT g..., key, tie,
  *     row_number() OVER (PARTITION BY g ORDER BY key DESC, tie ASC) AS rk
  *   FROM rel) WHERE rk <= K
  * }}}
  *
  * onto the native [[TopKRows]] aggregate + posexplode. The window plan
  * exchanges EVERY row of every group and sorts it before ranking; the
  * rewritten plan ships at most K pairs per (partition, group) through one
  * map-side-combined ObjectHashAggregate — the [[BitmapDistinctRewrite]]
  * argument applied to ORDER instead of distinctness.
  *
  * The rewrite fires only where it is provably exact:
  *  - the window computes exactly one expression, a `row_number()` over
  *    (key DESC, tie ASC) with key/tie being NON-NULLABLE BIGINT child
  *    attributes (with nullable inputs, row_number's NULLS-LAST ordering
  *    can admit null rows into small groups that [[TopKRows]] skips);
  *  - the filter is `rk <= K` / `rk < K` for an integer literal;
  *  - the window child's output is exactly the partition attributes plus
  *    (key, tie) — anything wider cannot survive an aggregate.
  *
  * Guarded by `spark.graft.rewriteWindowTopK` (default off). Output
  * attribute ids are preserved (aliases re-use the original exprIds), so
  * parent operators are untouched. Registered on a live session through
  * [[GraftFunctions.install]] (experimental extraOptimizations, the
  * once-per-plan batch — which also keeps the rule trivially idempotent:
  * the rewritten tree contains no Window to re-match).
  */
object TopKRewrite extends Rule[LogicalPlan] {

  private object IntLit {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case _ => None
    }
  }

  private def unwrapGroupLimit(p: LogicalPlan): LogicalPlan = p match {
    case WindowGroupLimit(_, _, _, _, inner) => inner
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString("spark.graft.rewriteWindowTopK", "false").toBoolean) plan
    else plan.transformUp {
      case f @ Filter(cond,
        Window(Seq(rkAlias @ Alias(WindowExpression(_: RowNumber, spec), _)),
          part, Seq(SortOrder(key: AttributeReference, Descending, _, _),
            SortOrder(tie: AttributeReference, Ascending, _, _)), windowChild, _))
          if spec.orderSpec.length == 2 &&
            key.dataType == LongType && !key.nullable &&
            tie.dataType == LongType && !tie.nullable &&
            part.forall(_.isInstanceOf[AttributeReference]) &&
            unwrapGroupLimit(windowChild).outputSet == AttributeSet(
              part.map(_.asInstanceOf[AttributeReference]) ++ Seq(key, tie)) =>
        // InferWindowGroupLimit (a standard optimizer batch that runs
        // before us) inserts its rank-limit below the Window; the native
        // aggregate subsumes it — strip it, or its Final mode would
        // re-introduce a sort + exchange under our partial aggregate
        val child = unwrapGroupLimit(windowChild)
        val rkAttr = rkAlias.toAttribute
        val kOpt = cond match {
          case LessThanOrEqual(a: AttributeReference, IntLit(k))
            if a.exprId == rkAttr.exprId => Some(k)
          case LessThan(a: AttributeReference, IntLit(k))
            if a.exprId == rkAttr.exprId => Some(k - 1)
          case GreaterThanOrEqual(IntLit(k), a: AttributeReference)
            if a.exprId == rkAttr.exprId => Some(k)
          case _ => None
        }
        kOpt.filter(k => k >= 1 && k <= 65536) match {
          case None => f
          case Some(k) =>
            val partAttrs = part.map(_.asInstanceOf[AttributeReference])
            val topAlias = Alias(
              TopKRows(key, tie, k).toAggregateExpression(), "graft_top")()
            val agg = Aggregate(partAttrs, partAttrs :+ topAlias, child)
            val topRef = topAlias.toAttribute
            val gen = Generate(
              PosExplode(topRef),
              unrequiredChildIndex = Seq(agg.output.indexOf(topRef)),
              outer = false,
              qualifier = None,
              generatorOutput = Nil, // resolved below from the generator schema
              agg)
            val genOut = gen.generator.elementSchema.map(fld =>
              AttributeReference(fld.name, fld.dataType, fld.nullable)())
            val genResolved = gen.copy(generatorOutput = genOut)
            val Seq(posAttr, colAttr) = genOut
            // reproduce the window's output (child cols ++ rk) under the
            // ORIGINAL exprIds so parents are untouched
            val outProj: Seq[NamedExpression] = f.output.map { a =>
              if (a.exprId == rkAttr.exprId)
                Alias(Add(posAttr, Literal(1)), a.name)(exprId = a.exprId)
              else if (a.exprId == key.exprId)
                Alias(GetStructField(colAttr, 0, Some("key")), a.name)(exprId = a.exprId)
              else if (a.exprId == tie.exprId)
                Alias(GetStructField(colAttr, 1, Some("tie")), a.name)(exprId = a.exprId)
              else a
            }
            Project(outProj, genResolved)
        }
    }
}
