package graft.plans

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Catalyst optimizer rule: rewrite `count(DISTINCT x)` over a BIGINT
  * column into the native [[BitmapDistinct]] aggregate.
  *
  * Spark plans a single distinct aggregate as a TWO-shuffle
  * expand-then-count (first de-dup on (group, x), then count); the bitmap
  * aggregate is an ordinary mergeable aggregate — ONE map-side-combined
  * shuffle, the `sum` plan shape. The rewrite is exact: both skip nulls,
  * both count distinct BIGINT values. Guarded by the session conf
  * `spark.graft.rewriteCountDistinct` (default off) so the standard plan
  * stays available for comparison; only filter-free single-column Counts
  * rewrite (a FILTER clause or multi-arg count keeps Spark's path).
  *
  * Registered via [[GraftExtensions]] (`injectOptimizerRule` — lands in
  * the operator-optimization FIXED-POINT batch, so it must be and is
  * idempotent: a rewritten Aggregate no longer matches the Count-distinct
  * pattern) or on a live session through [[GraftFunctions.install]]
  * (`experimental.extraOptimizations` — the once-per-plan "User Provided
  * Optimizers" batch). Both run during logical optimization, before
  * physical planning's single-distinct expansion, so the two-Exchange
  * distinct plan path is never taken.
  */
object BitmapDistinctRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString("spark.graft.rewriteCountDistinct", "false").toBoolean) plan
    else plan.transformUp {
      case agg: Aggregate =>
        agg.transformExpressions {
          case ae @ AggregateExpression(Count(Seq(c)), _, true, None, _)
              if c.dataType == LongType =>
            ae.copy(aggregateFunction = BitmapDistinct(c), isDistinct = false)
        }
    }
}
