package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.PlanBridge

/** The enriched rows of the good/bad split, closed to filter pushdown.
  *
  * A filter on `bad_row_errors` above the chain is pushed down through
  * every stage's projection, with the alias substituted, so the filter
  * evaluates the whole chain per row and the projection above it evaluates
  * it again: twice the work, in a generated method twice the size (the
  * default chain with its good-side filter read 15,797 bytes, past
  * HotSpot's 8,000-byte JIT limit). The optimizer pushes filters only
  * through the operators it knows, so this node stops them; columns are
  * still pruned through it. It plans as its child, so the physical plan
  * has no extra operator. Registered through [[GraftFunctions.strategies]].
  */
final case class SplitBarrier(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): SplitBarrier =
    copy(child = newChild)
}

object SplitBarrier {
  def apply(df: DataFrame): DataFrame = {
    GraftFunctions.install(df.sparkSession)
    PlanBridge.ofRows(df.sparkSession, SplitBarrier(df.queryExecution.analyzed))
  }
}

object SplitBarrierStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SplitBarrier(child) => planLater(child) :: Nil
    case _ => Nil
  }
}
