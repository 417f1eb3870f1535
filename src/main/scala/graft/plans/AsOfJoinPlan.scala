package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Native as-of join — the extension-ladder tier the built-in operators
  * genuinely cannot express (reference `registry/WeatherEnrichment.scala`:
  * "latest observation at or before the event time, per station"):
  * a custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`, registered via
  * `GraftExtensions` (or on a live session through
  * `GraftFunctions.install`).
  *
  * Physical shape: both sides hash-clustered on the key and sorted by
  * (key, time) — EnsureRequirements inserts the exchanges/sorts exactly as
  * it does for a sort-merge join — then ONE streaming merge pass per
  * partition with O(1) carry state (the latest reference row seen for the
  * current key). Compared to the union+window composition
  * (`operators.AsOfJoin.leftAsOf`) this needs no union, no window buffer,
  * and no side/tag columns: |L|+|R| rows shuffle once and stream through.
  *
  * Semantics: left row matches the latest right row with equal keys and
  * `right.time <= left.time` (inclusive), nulls when none precedes it —
  * identical to `leftAsOf`, proven by `AsOfJoinNativeSpec`.
  */
final case class AsOfJoinPlan(
  left: LogicalPlan,
  right: LogicalPlan,
  leftKeys: Seq[Attribute],
  rightKeys: Seq[Attribute],
  leftTime: Attribute,
  rightTime: Attribute,
  rightValues: Seq[Attribute]
) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ rightValues.map(_.withNullability(true))

  override def references: AttributeSet =
    AttributeSet(leftKeys ++ rightKeys ++ Seq(leftTime, rightTime) ++ rightValues)

  override protected def withNewChildrenInternal(
    newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] as [[AsOfJoinExec]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, rv) =>
      AsOfJoinExec(lk, rk, lt, rt, rv, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

final case class AsOfJoinExec(
  leftKeys: Seq[Expression],
  rightKeys: Seq[Expression],
  leftTime: Expression,
  rightTime: Expression,
  rightValues: Seq[Attribute],
  left: SparkPlan,
  right: SparkPlan
) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ rightValues.map(_.withNullability(true))

  // both sides clustered on the join key — EnsureRequirements aligns the
  // two HashPartitionings (same expressions positionally, same partition
  // count), exactly as for SortMergeJoinExec
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // (key, time) sort on both sides makes the per-partition merge a single
  // forward pass
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatchedRows" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  override protected def withNewChildrenInternal(
    newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lKeysB = leftKeys
    val rKeysB = rightKeys
    val lTimeB = leftTime
    val rTimeB = rightTime
    val rValsB = rightValues
    val outB = output
    val numOutputRows = longMetric("numOutputRows")
    val numMatchedRows = longMetric("numMatchedRows")
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeysB, leftOut)
      val rKeyProj = UnsafeProjection.create(rKeysB, rightOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeB), leftOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTimeB), rightOut)
      val rValProj = UnsafeProjection.create(rValsB, rightOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeysB.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTimeB.dataType))
      val nullVals = new GenericInternalRow(rValsB.length)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(outB, outB)

      // child iterators reuse their row buffers: anything held across
      // next() calls must be copied
      var rHead: InternalRow = if (rIter.hasNext) rIter.next().copy() else null
      var carryKey: UnsafeRow = null
      var carryVals: UnsafeRow = null

      lIter.map { lRow =>
        // each projection owns its buffer, and lk/lt are only read within
        // this iteration — no copies needed on the probe side
        val lk = lKeyProj(lRow)
        val lt = lTimeProj(lRow)
        while (rHead != null && {
          val c = keyOrd.compare(rKeyProj(rHead), lk)
          c < 0 || (c == 0 && timeOrd.compare(rTimeProj(rHead), lt) <= 0)
        }) {
          carryKey = rKeyProj(rHead).copy()
          carryVals = rValProj(rHead).copy()
          rHead = if (rIter.hasNext) rIter.next().copy() else null
        }
        val matched = carryKey != null && keyOrd.compare(carryKey, lk) == 0
        numOutputRows += 1
        if (matched) numMatchedRows += 1
        resultProj(joined(lRow, if (matched) carryVals else nullVals))
      }
    }
  }
}
