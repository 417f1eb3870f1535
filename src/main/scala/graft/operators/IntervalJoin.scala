package graft.operators

import org.apache.spark.sql.DataFrame

/** Public API of the native broadcast interval join
  * ([[graft.plans.IntervalJoinPlan]]): left-join `facts` to the
  * non-overlapping `ranges` dim on `lo <= value <= hi` via one broadcast
  * sorted array + an O(log n) binary search per probe row — the
  * geo/ASN-lookup shape, without BroadcastNestedLoopJoin's O(|L|·|R|)
  * and without `RangeJoin`'s bucket-width tuning. */
object IntervalJoin {

  def leftJoinNative(
    facts: DataFrame,
    valueCol: String,
    ranges: DataFrame,
    loCol: String,
    hiCol: String,
    valueCols: Seq[String]
  ): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    val spark = facts.sparkSession
    graft.plans.GraftFunctions.install(spark)
    val lPlan = facts.queryExecution.analyzed
    val rPlan0 = ranges.queryExecution.analyzed
    val rPlan: LogicalPlan =
      if (lPlan.outputSet.intersect(rPlan0.outputSet).isEmpty) rPlan0
      else Project(rPlan0.output.map(a => Alias(a, a.name)()), rPlan0)
    def attr(p: LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column '$n' not found in ${p.output.map(_.name)}"))
    val v = attr(lPlan, valueCol)
    val (lo, hi) = (attr(rPlan, loCol), attr(rPlan, hiCol))
    require(v.dataType == lo.dataType && lo.dataType == hi.dataType,
      s"interval-join type mismatch: $valueCol:${v.dataType} vs " +
        s"$loCol:${lo.dataType}/$hiCol:${hi.dataType} — cast first")
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
      graft.plans.IntervalJoinPlan(lPlan, rPlan, v, lo, hi,
        valueCols.map(attr(rPlan, _))))
  }
}
