package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Hashed-feature linear score in one codegen'd pass (r16; guide §1.2
  * per-task work): Σ over tokens of `table[(first byte of md5(salt ++
  * token)) % table.length]` — the fused form of Queries15's composable
  * `aggregate(toks, 0L, (acc, t) -> acc + element_at(arr, bucketOf(salt,
  * t) + 1))`, whose lambda evaluates interpreted (CodegenFallback) and
  * pays an md5 hex encode, two substring/ascii probes and a literal-array
  * `element_at` per TOKEN. The kernel hashes raw bytes, reads digest byte
  * 0 directly (hex nibbles 1-2 ARE that byte) and sums from a plain long
  * array.
  *
  * Equivalence with the composable twin (`scoreColSpec`, pinned by a
  * differential PropertySpec): null array → null; empty array → 0; a null
  * ELEMENT nulls the whole sum (the twin's fold turns acc null via
  * `acc + null` and never recovers).
  */
case class ScoreExpression(child: Expression, salt: String, table: Seq[Long])
    extends UnaryExpression {

  require(table.length == 64,
    s"score table must have 64 entries, got ${table.length}: the composable " +
      "twin and the DuckDB oracle bucket by % 64")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_feature_score"

  @transient private lazy val saltBytes: Array[Byte] =
    salt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  @transient private lazy val tableArr: Array[Long] = table.toArray

  override protected def nullSafeEval(input: Any): Any =
    ScoreExpression.scoreRow(input.asInstanceOf[ArrayData], saltBytes, tableArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val saltRef = ctx.addReferenceObj("scoreSalt", saltBytes, "byte[]")
    val tableRef = ctx.addReferenceObj("scoreTable", tableArr, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("scoreRes")
      s"""
         |java.lang.Long $r = graft.plans.ScoreExpression$$.MODULE$$.scoreRow(
         |  $c, $saltRef, $tableRef);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ScoreExpression =
    copy(child = newChild)
}

object ScoreExpression {

  private val digestTL: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Null ARRAY is handled by the caller (nullSafe*); a null ELEMENT nulls
    * the sum, matching the composable fold's `acc + null`. */
  def scoreRow(arr: ArrayData, salt: Array[Byte], table: Array[Long]): java.lang.Long = {
    val md = digestTL.get()
    val b = table.length
    var sum = 0L
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      md.reset()
      md.update(salt)
      md.update(arr.getUTF8String(i).getBytes)
      val d = md.digest()
      sum += table((d(0) & 0xff) % b)
      i += 1
    }
    java.lang.Long.valueOf(sum)
  }
}
