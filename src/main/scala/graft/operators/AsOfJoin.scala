package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed as-of join (the temporal-lookup shape behind snowplow/enrich's
  * `registry/WeatherEnrichment.scala` — "latest observation at or before the
  * event time, per station").
  *
  * Implementation is the scalable union+window pattern, not a per-row lookup
  * or a range cross-join:
  *
  *  1. tag left (probe) and right (reference) rows, union them;
  *  2. one shuffle on the key columns; within each key, sort by
  *     (time, side) — reference rows sort *before* probe rows at equal
  *     timestamps, making the join inclusive (`right.time <= left.time`);
  *  3. `last_value(..., ignoreNulls)` propagates the latest reference value
  *     forward; probe rows then carry their as-of match.
  *
  * Cost at 100 TB: a single hash shuffle of |L| + |R| rows on the key — the
  * same price as the groupBy any stateful per-key operator pays; no
  * broadcast-size limit on either side and no N×M blowup.
  */
object AsOfJoin {

  /** NATIVE left as-of join — plans through graft's custom Catalyst
    * operator ([[graft.plans.AsOfJoinPlan]] → `AsOfJoinExec`): both sides
    * hash-clustered on `keys` and sorted by (key, time) via
    * EnsureRequirements, then one streaming merge pass per partition with
    * O(1) carry state. Same semantics as [[leftAsOf]] (inclusive
    * `right.time <= left.time`, nulls when nothing precedes), proven
    * equivalent by AsOfJoinNativeSpec. Installs the planner strategy
    * on first use; `GraftExtensions` also injects it at session build.
    *
    * Column names must be unambiguous on their side. Key and time columns
    * must have the SAME data type on both sides (cast first) — the merge
    * hashes and compares each side with one layout, so a silent widening
    * would mis-partition. Self-joins are safe: a right side sharing lineage
    * with the left is re-aliased to fresh expression ids. */
  def leftAsOfNative(
    left: DataFrame,
    right: DataFrame,
    keys: Seq[String],
    leftTime: String,
    rightTime: String,
    valueCols: Seq[String]
  ): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    val spark = left.sparkSession
    graft.plans.GraftFunctions.install(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan0 = right.queryExecution.analyzed
    // shared lineage would duplicate expression ids across sides and make
    // the output projection bind right values to left ordinals
    val rPlan: LogicalPlan =
      if (lPlan.outputSet.intersect(rPlan0.outputSet).isEmpty) rPlan0
      else Project(rPlan0.output.map(a => Alias(a, a.name)()), rPlan0)
    def attr(p: LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column '$n' not found in ${p.output.map(_.name)}"))
    val (lk, rk) = (keys.map(attr(lPlan, _)), keys.map(attr(rPlan, _)))
    val (lt, rt) = (attr(lPlan, leftTime), attr(rPlan, rightTime))
    lk.zip(rk).foreach { case (a, b) =>
      require(a.dataType == b.dataType,
        s"as-of key type mismatch: ${a.name}:${a.dataType} vs ${b.name}:${b.dataType} — cast first")
    }
    require(lt.dataType == rt.dataType,
      s"as-of time type mismatch: $leftTime:${lt.dataType} vs $rightTime:${rt.dataType} — cast first")
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
      graft.plans.AsOfJoinPlan(lPlan, rPlan, lk, rk, lt, rt,
        valueCols.map(attr(rPlan, _))))
  }

  /** Left as-of join.
    *
    * @param left      probe side
    * @param right     reference side (its `valueCols` are appended)
    * @param keys      equality keys present on both sides
    * @param leftTime  event-time column on `left` (numeric or timestamp)
    * @param rightTime event-time column on `right`, same type
    * @param valueCols columns of `right` to carry onto matching left rows
    *                  (null when no reference row precedes the probe row)
    */
  def leftAsOf(
    left: DataFrame,
    right: DataFrame,
    keys: Seq[String],
    leftTime: String,
    rightTime: String,
    valueCols: Seq[String]
  ): DataFrame = {
    val l = left.withColumn("__side", lit(1)).withColumn("__t", col(leftTime))
    val r = right
      .select(keys.map(col) ++ valueCols.map(c => col(c).as(s"__v_$c")) :+ col(rightTime).as("__t"): _*)
      .withColumn("__side", lit(0))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = valueCols.foldLeft(unioned) { (df, c) =>
      df.withColumn(c, last(col(s"__v_$c"), ignoreNulls = true).over(w))
    }
    filled
      .filter(col("__side") === 1)
      .drop((valueCols.map(c => s"__v_$c") ++ Seq("__side", "__t")): _*)
  }

  /** Time-BUCKETED left as-of join (SURVEY §5): [[leftAsOf]]'s parallelism
    * is bounded by key cardinality — 10 weather stations means 10 partitions
    * no matter the cluster. This variant partitions by (key, time-bucket):
    *
    *  1. reference rows keep their own bucket;
    *  2. a tiny per-(key, bucket) aggregate computes the LAST reference
    *     before each bucket (forward-filled over the aggregate table only —
    *     keys × buckets rows, never the raw data) and injects it as a
    *     synthetic carry-in row, so probes early in a bucket (or in
    *     reference-free buckets) still see their predecessor;
    *  3. the plain union+window as-of runs per (key, bucket).
    *
    * Results are identical to [[leftAsOf]]; parallelism becomes
    * keys × buckets. Pick `bucketWidth` so a bucket's rows fit a task. */
  def leftAsOfBucketed(
    left: DataFrame,
    right: DataFrame,
    keys: Seq[String],
    leftTime: String,
    rightTime: String,
    valueCols: Seq[String],
    bucketWidth: Long
  ): DataFrame = {
    require(bucketWidth > 0)
    // exact integer floor-division: Column `/` is DOUBLE division, which can
    // drift off integer boundaries for times near 2^53 and quietly change
    // partition sizing. t − pmod(t, w) is the floor multiple (pmod is
    // non-negative, so this floors for negative times too) and divides
    // exactly under integral `div`.
    def bkt(c: Column) = {
      val t = c.cast("bigint")
      call_function("div", t - pmod(t, lit(bucketWidth)), lit(bucketWidth))
    }
    val kcols = keys.map(col)
    // last reference row per (key, bucket), with its timestamp
    val agg = right
      .groupBy(kcols :+ bkt(col(rightTime)).as("__bkt"): _*)
      .agg(max_by(struct(col(rightTime).as("__t") +: valueCols.map(col): _*), col(rightTime)).as("__last"))
    // every bucket any probe or reference touches, so carry-ins reach
    // reference-free probe buckets too
    val allBk = left.select(kcols :+ bkt(col(leftTime)).as("__bkt"): _*).distinct()
      .unionByName(agg.select(kcols :+ col("__bkt"): _*)).distinct()
    val wCarry = Window.partitionBy(kcols: _*).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = allBk
      .join(agg, keys :+ "__bkt", "left")
      .withColumn("__carry", last(col("__last"), ignoreNulls = true).over(wCarry))
      .filter(col("__carry").isNotNull)
      .select(kcols ++ Seq(col("__bkt"), col("__carry.__t").as(rightTime)) ++
        valueCols.map(c => col(s"__carry.$c").as(c)): _*)
    val rightB = right
      .select(kcols ++ Seq(bkt(col(rightTime)).as("__bkt"), col(rightTime)) ++ valueCols.map(col): _*)
      .unionByName(carry)
    val leftB = left.withColumn("__bkt", bkt(col(leftTime)))
    leftAsOf(leftB, rightB, keys :+ "__bkt", leftTime, rightTime, valueCols).drop("__bkt")
  }
}
