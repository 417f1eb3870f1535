package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression, GenericInternalRow, JoinedRow, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Native broadcast interval join — the range-lookup shape behind
  * geo/ASN IP enrichment (reference `registry/IpLookupsEnrichment`):
  * each probe value finds the interval `[lo, hi]` containing it.
  *
  * Spark's built-in planning for `v BETWEEN lo AND hi` is a
  * BroadcastNestedLoopJoin — O(|facts|·|ranges|) comparisons; the
  * composition `operators.RangeJoin` fixes that with a bucketed
  * equi-join (shuffle-free but bucket-width-tuned). This node is the
  * extension-ladder tier above both: the interval table (a dim by
  * contract: geo/ASN dbs are MBs) is collected once, sorted by `lo`,
  * broadcast, and every probe row does an O(log |ranges|) binary
  * search inside one narrow map — no bucket tuning, no fan-out rows,
  * no nested loop.
  *
  * Contract: intervals must be NON-OVERLAPPING (true of CIDR-derived
  * range dbs) — only the latest-starting interval at or below the probe
  * is consulted, so a value covered solely by an earlier OVERLAPPING
  * interval is reported unmatched (spec-pinned). Probes in no interval
  * get nulls (left-outer semantics).
  * Registered via `GraftExtensions` or
  * `GraftFunctions.install`.
  */
final case class IntervalJoinPlan(
  left: LogicalPlan,
  right: LogicalPlan,
  leftValue: Attribute,
  rightLo: Attribute,
  rightHi: Attribute,
  rightValues: Seq[Attribute]
) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ rightValues.map(_.withNullability(true))

  override def references: AttributeSet =
    AttributeSet(Seq(leftValue, rightLo, rightHi) ++ rightValues)

  override protected def withNewChildrenInternal(
    newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[IntervalJoinPlan]] as [[IntervalJoinExec]]. */
object IntervalJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IntervalJoinPlan(l, r, v, lo, hi, rv) =>
      IntervalJoinExec(v, lo, hi, rv, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

final case class IntervalJoinExec(
  leftValue: Expression,
  rightLo: Expression,
  rightHi: Expression,
  rightValues: Seq[Attribute],
  left: SparkPlan,
  right: SparkPlan
) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ rightValues.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatchedRows" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"),
    "numIntervals" -> SQLMetrics.createMetric(sparkContext, "broadcast intervals"))

  override protected def withNewChildrenInternal(
    newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val rightOut = right.output
    // build side: collect, project (lo, hi, values), sort by lo — the dim
    // contract (geo/ASN range dbs are small); then ship ONE sorted array
    val loProj = UnsafeProjection.create(Seq(rightLo), rightOut)
    val hiProj = UnsafeProjection.create(Seq(rightHi), rightOut)
    val valProj = UnsafeProjection.create(rightValues, rightOut)
    val ord = RowOrdering.createNaturalAscendingOrdering(Seq(rightLo.dataType))
    val collected = right.executeCollect()
    val sorted = collected
      .map(r => (loProj(r).copy(), hiProj(r).copy(), valProj(r).copy()))
      .sortWith((a, b) => ord.compare(a._1, b._1) < 0)
    longMetric("numIntervals") += sorted.length
    val bc = sparkContext.broadcast(sorted)

    val leftOut = left.output
    val lValB = leftValue
    val rValsB = rightValues
    val outB = output
    val loDt = rightLo.dataType
    val numOutputRows = longMetric("numOutputRows")
    val numMatchedRows = longMetric("numMatchedRows")

    left.execute().mapPartitions { lIter =>
      val table = bc.value
      val vProj = UnsafeProjection.create(Seq(lValB), leftOut)
      val cmp = RowOrdering.createNaturalAscendingOrdering(Seq(loDt))
      val nullVals = new GenericInternalRow(rValsB.length)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(outB, outB)
      lIter.map { lRow =>
        val v: UnsafeRow = vProj(lRow)
        var matched: InternalRow = null
        if (!v.isNullAt(0) && table.nonEmpty) {
          // rightmost interval with lo <= v
          var loIdx = 0
          var hiIdx = table.length - 1
          var found = -1
          while (loIdx <= hiIdx) {
            val mid = (loIdx + hiIdx) >>> 1
            if (cmp.compare(table(mid)._1, v) <= 0) { found = mid; loIdx = mid + 1 }
            else hiIdx = mid - 1
          }
          if (found >= 0 && cmp.compare(v, table(found)._2) <= 0)
            matched = table(found)._3
        }
        numOutputRows += 1
        if (matched != null) numMatchedRows += 1
        resultProj(joined(lRow, if (matched != null) matched else nullVals))
      }
    }
  }
}
