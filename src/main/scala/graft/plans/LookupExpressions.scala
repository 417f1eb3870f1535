package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.IpF

/** Static-dim lookups as one call per row.
  *
  * A lookup stage (IP ranges, currency rates) builds its dim on the driver
  * when the stage is applied, checks it, and ships it to the executors
  * through `SparkContext.broadcast`: the expression holds the handle, and
  * each task reads the table once. The plan has no `Join` and no exchange,
  * so the enrichment chain stays one whole-stage-codegen projection, and
  * adaptive execution (which wraps only plans with exchanges) never
  * re-optimizes it. Structured Streaming re-plans and re-executes every
  * micro-batch, so a broadcast join's exchange job and the adaptive
  * re-optimization it brings were paid on every trigger; the broadcast
  * here is made once, when the stage is applied.
  *
  * One event in, one row out: a left join emits one row per matching dim
  * row, so overlapping ranges or a repeated key duplicated the event. The
  * builds refuse such a dim and name the first overlap or repeated key.
  */

/** A driver-built table: the dim value (a Catalyst value) a string key
  * maps to, or null on a miss. */
trait DimTable extends Serializable {
  def lookup(key: UTF8String): AnyRef
}

/** A [[DimTable]] behind its broadcast handle: serializing this ships the
  * handle, not the table; each deserialized copy reads the table once. */
final class DimHandle(table: Broadcast[DimTable]) extends Serializable {
  @transient private lazy val t: DimTable = table.value
  def lookup(key: UTF8String): AnyRef = t.lookup(key)
}

/** key → the dim value from [[DimHandle.lookup]], null on a miss. */
case class DimLookupExpression(child: Expression, dim: DimHandle, dataType: DataType)
    extends RowKernel("graft_dim_lookup", DimLookup, "lookup") with UnaryLike[Expression] {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override protected def nullResult: Boolean = true
  override protected def consts: Seq[Any] = Seq(dim)
  override protected def flatArguments: Iterator[Any] = Iterator(child)

  override protected def withNewChildInternal(newChild: Expression): DimLookupExpression =
    copy(child = newChild)
}

/** Closed ranges, sorted and disjoint: [[find]] is one binary search. */
final class RangeTable private (los: Array[Long], his: Array[Long], vals: Array[AnyRef])
    extends Serializable {
  def find(v: Long): AnyRef = {
    var lo = 0
    var hi = los.length - 1
    while (lo <= hi) { // hi ends at the last range starting at or below v
      val mid = (lo + hi) >>> 1
      if (los(mid) <= v) lo = mid + 1 else hi = mid - 1
    }
    if (hi >= 0 && v <= his(hi)) vals(hi) else null
  }
}

object RangeTable {
  /** The non-empty `(lo, hi, value)` ranges; fails on the first two that
    * overlap, their bounds rendered with `show`. */
  def apply(stage: String, rows: Seq[(Long, Long, AnyRef)], show: Long => String): RangeTable = {
    val sorted = rows.filter(r => r._1 <= r._2).sortBy(_._1).toArray
    sorted.iterator.sliding(2).foreach {
      case Seq(a, b) if b._1 <= a._2 =>
        throw new IllegalArgumentException(s"$stage: ranges [${show(a._1)}, ${show(a._2)}] and " +
          s"[${show(b._1)}, ${show(b._2)}] overlap, so an event in both would be emitted twice")
      case _ =>
    }
    new RangeTable(sorted.map(_._1), sorted.map(_._2), sorted.map(_._3))
  }
}

/** IPv4 ranges over the 32-bit value, plus IPv6 ranges keyed by the
  * canonical /64 prefix over the unsigned low 64 bits. A key is looked up
  * in the family it parses as ([[IpF.ipv4Value]], [[IpF.ipv6Halves]]); no
  * string parses as both. */
final class IpRangeTable(v4: RangeTable, v6: java.util.HashMap[java.lang.Long, RangeTable])
    extends DimTable {
  def lookup(ip: UTF8String): AnyRef = {
    val v = IpF.ipv4Value(ip)
    if (v >= 0) v4.find(v)
    else if (v6.isEmpty) null
    else {
      val h = IpF.ipv6Halves(ip.toString)
      val t = if (h == null) null else v6.get(h(0))
      if (t == null) null else t.find(h(1) ^ Long.MinValue)
    }
  }
}

object IpRangeTable {
  private val MaxV4 = 0xFFFFFFFFL
  private val MaxLow64 = (BigInt(1) << 64) - 1

  private def dotted(v: Long): String = Seq(24, 16, 8, 0).map(s => (v >>> s) & 0xFF).mkString(".")

  /** `v4`: (lo, hi, value) over the 32-bit address. `v6`: (/64 prefix,
    * low-64 lo, low-64 hi, value); a prefix that is not canonical (lowercase
    * minimal hex, four groups) matches no address and is dropped. Ranges are
    * clipped to the addresses their family has. */
  def apply(stage: String, v4: Seq[(Long, Long, AnyRef)],
      v6: Seq[(String, BigInt, BigInt, AnyRef)]): IpRangeTable = {
    val v4t = RangeTable(stage, v4.map { case (lo, hi, x) => (lo max 0L, hi min MaxV4, x) }, dotted)
    val v6t = new java.util.HashMap[java.lang.Long, RangeTable]()
    v6.flatMap { case (p, lo, hi, x) => canonicalPrefix(p).map(k => (k, p, lo, hi, x)) }
      .groupBy(_._1).foreach { case (k, rows) =>
        // unsigned low-64 bounds as sign-flipped longs, so signed order is unsigned order
        def flip(b: BigInt): Long = b.max(0).min(MaxLow64).toLong ^ Long.MinValue
        val show = (v: Long) => s"${rows.head._2}/64+${java.lang.Long.toUnsignedString(v ^ Long.MinValue)}"
        v6t.put(k, RangeTable(stage, rows.collect {
          case (_, _, lo, hi, x) if lo <= MaxLow64 && hi >= 0 => (flip(lo), flip(hi), x)
        }, show))
      }
    new IpRangeTable(v4t, v6t)
  }

  private def canonicalPrefix(p: String): Option[Long] = {
    val g = p.split(":", -1)
    val ok = g.length == 4 && g.forall(s => s.matches("[0-9a-f]{1,4}") &&
      java.lang.Long.toHexString(java.lang.Long.parseLong(s, 16)) == s)
    if (ok) Some(g.foldLeft(0L)((acc, s) => acc << 16 | java.lang.Long.parseLong(s, 16))) else None
  }
}

/** Exact string keys. */
final class KeyTable private (map: java.util.HashMap[UTF8String, AnyRef]) extends DimTable {
  def lookup(key: UTF8String): AnyRef = map.get(key)
}

object KeyTable {
  /** `(key, value)` rows; a null key matches nothing. Fails on the first
    * repeated key. */
  def apply(stage: String, rows: Seq[(UTF8String, AnyRef)]): KeyTable = {
    val map = new java.util.HashMap[UTF8String, AnyRef]()
    rows.foreach { case (k, v) =>
      if (k != null && map.containsKey(k))
        throw new IllegalArgumentException(
          s"$stage: the dim repeats key '$k', so an event with that key would be emitted twice")
      if (k != null) map.put(k, v)
    }
    new KeyTable(map)
  }
}

/** Driver-side builds of [[DimLookupExpression]] columns, and its row
  * function. */
object DimLookup {
  /** The row function of [[DimLookupExpression]]. */
  def lookup(key: UTF8String, dim: DimHandle): AnyRef = dim.lookup(key)

  /** `table` broadcast once; `key` cast to string. */
  def column(spark: SparkSession, key: Column, table: DimTable, dataType: DataType): Column =
    ColumnBridge.column(DimLookupExpression(ColumnBridge.expression(key.cast("string")),
      new DimHandle(spark.sparkContext.broadcast(table)), dataType))

  /** A `(lo, hi, value)` dim with one collect; rows with a null bound match
    * nothing and are dropped. */
  def collectRanges(dim: DataFrame): Seq[(Long, Long, AnyRef)] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dim.schema(2).dataType)
    dim.collect().toSeq.collect {
      case r if !r.isNullAt(0) && !r.isNullAt(1) =>
        (r.getLong(0), r.getLong(1), toCatalyst(r.get(2)).asInstanceOf[AnyRef])
    }
  }

  /** A `(key string, value)` dim with one collect. */
  def collectKeys(dim: DataFrame): Seq[(UTF8String, AnyRef)] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dim.schema(1).dataType)
    dim.collect().toSeq.map(r =>
      (UTF8String.fromString(r.getString(0)), toCatalyst(r.get(1)).asInstanceOf[AnyRef]))
  }
}
