package graft.plans

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** One call per row into a Scala row function: the base of graft's
  * single-call kernels.
  *
  * Spark fuses a chain of column derivations into one generated method,
  * and HotSpot never JIT-compiles a method over 8,000 bytes of bytecode
  * (`-XX:+DontCompileHugeMethods`). A kernel keeps its share of that method
  * to a few child reads and one static call: the algorithm lives in a row
  * function, `method` of the Scala object `module`, that takes and returns
  * Catalyst values (`UTF8String`, `ArrayData`, `InternalRow`, primitives).
  * The kernel names the function once; this base writes both paths from
  * that name, through the object's static forwarder:
  *  - `doGenCode` evaluates the children and makes one static call;
  *  - `eval` invokes the same method by reflection, resolved once per
  *    instance, as Spark's `StaticInvoke` does.
  * So interpreted rows (constant folding, local relations) and generated
  * code run the same Scala code.
  *
  * The row function's arguments are the children's values in order, then
  * [[consts]]: `Int`, `Long` and `Boolean` constants inline as literals,
  * anything else rides as a codegen reference object. When the function's
  * first parameter is an array of the first child's Java type, it takes
  * the leading children (a variadic kernel).
  *
  * Nulls: by default a null child nulls the result and the function sees
  * only non-null values; a kernel whose [[passNulls]] is true hands nulls to
  * the function instead. [[nullResult]] says the function may itself
  * return null (a boxed primitive where the result type is primitive).
  */
abstract class RowKernel(override val prettyName: String, module: AnyRef, method: String)
    extends Expression with Serializable {

  /** The type of each child; nullability is not compared. */
  def inputTypes: Seq[DataType]
  /** Trailing constant arguments of the row function. */
  protected def consts: Seq[Any] = Nil
  /** Nulls reach the row function instead of nulling the result. */
  protected def passNulls: Boolean = false
  /** The row function may return null. */
  protected def nullResult: Boolean = false

  override def nullable: Boolean = nullResult || (!passNulls && children.exists(_.nullable))
  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult = {
    val types = children.map(_.dataType)
    if (types.corresponds(inputTypes)(DataType.equalsStructurally(_, _, ignoreNullability = true)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires " +
      s"(${inputTypes.map(_.catalogString).mkString(", ")}), got (${types.map(_.catalogString).mkString(", ")})")
  }

  /** A Scala object `X` compiles to the class `X$`; its static forwarders
    * sit on the class `X`. */
  private val owner: String = module.getClass.getName.stripSuffix("$")

  @transient private lazy val fn: Method = Class.forName(owner, true, getClass.getClassLoader).getMethods
    .filter(m => m.getName == method && Modifier.isStatic(m.getModifiers)) match {
      case Array(m) => m
      case ms => throw new IllegalStateException(s"$prettyName: $owner has ${ms.length} static methods named $method")
    }
  @transient private lazy val constArgs: Array[AnyRef] = consts.map(_.asInstanceOf[AnyRef]).toArray

  /** How many leading children the row function takes as one array, or -1
    * when each child is its own argument. */
  @transient private lazy val packed: Int = {
    val childParams = fn.getParameterCount - constArgs.length
    if (childParams == children.size && (children.isEmpty ||
        fn.getParameterTypes.head.isAssignableFrom(CodeGenerator.javaClass(children.head.dataType)))) -1
    else children.size - childParams + 1
  }

  override def eval(input: InternalRow): Any = {
    val vs = children.iterator.map(_.eval(input).asInstanceOf[AnyRef]).toArray
    if (!passNulls && vs.contains(null)) return null
    val args = if (packed < 0) vs else {
      val arr = java.lang.reflect.Array.newInstance(fn.getParameterTypes.head.getComponentType, packed)
      System.arraycopy(vs, 0, arr, 0, packed)
      arr +: vs.drop(packed)
    }
    try fn.invoke(null, args ++ constArgs: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = children.map(_.genCode(ctx))
    val params = fn.getParameterTypes
    val vals = cs.zip(children).map { case (c, e) =>
      if (!passNulls || !e.nullable) c.value.toString
      else if (!CodeGenerator.isPrimitiveType(e.dataType)) s"(${c.isNull} ? null : ${c.value})"
      else s"(${c.isNull} ? null : (${CodeGenerator.boxedType(e.dataType)}) ${c.value})"
    }
    val childArgs = if (packed < 0) vals else {
      val array = s"new ${CodeGenerator.typeName(params.head.getComponentType)}[] {${vals.take(packed).mkString(", ")}}"
      array +: vals.drop(packed)
    }
    val constCode = constArgs.zip(params.drop(childArgs.size)).map {
      case (i: java.lang.Integer, _) => i.toString
      case (l: java.lang.Long, _) => s"${l}L"
      case (b: java.lang.Boolean, _) => b.toString
      case (o, p) => ctx.addReferenceObj(s"${prettyName}Arg", o, CodeGenerator.typeName(p))
    }
    val call = s"$owner.$method(${(childArgs ++ constCode).mkString(", ")})"

    val javaType = CodeGenerator.javaType(dataType)
    val boxed = CodeGenerator.boxedType(dataType)
    val primitive = CodeGenerator.isPrimitiveType(dataType)
    val ret = fn.getReturnType
    val result =
      if (ret.isPrimitive || CodeGenerator.javaClass(dataType).isAssignableFrom(ret)) call else s"($boxed) $call"
    val childCode = cs.map(_.code).reduceOption(_ + _).getOrElse(EmptyBlock)
    val nullIn =
      if (passNulls) Nil else cs.zip(children).collect { case (c, e) if e.nullable => c.isNull.toString }
    val r = ctx.freshName("r")
    if (nullIn.isEmpty && !nullResult)
      ev.copy(isNull = FalseLiteral, code = code"$childCode\n$javaType ${ev.value} = $result;")
    else if (nullIn.isEmpty) ev.copy(code = code"$childCode\n" + (
      if (!primitive) code"$javaType ${ev.value} = $result;\nboolean ${ev.isNull} = ${ev.value} == null;"
      else code"""${CodeGenerator.typeName(ret)} $r = $call;
        |boolean ${ev.isNull} = $r == null;
        |$javaType ${ev.value} = ${ev.isNull} ? ${CodeGenerator.defaultValue(dataType)} : ($boxed) $r;""".stripMargin))
    else {
      val assign =
        if (!nullResult) s"${ev.value} = $result;"
        else if (!primitive) s"${ev.value} = $result;\n${ev.isNull} = ${ev.value} == null;"
        else s"${CodeGenerator.typeName(ret)} $r = $call;\n${ev.isNull} = $r == null;\n" +
          s"if (!${ev.isNull}) ${ev.value} = ($boxed) $r;"
      ev.copy(code = code"""$childCode
        |boolean ${ev.isNull} = ${nullIn.mkString(" || ")};
        |$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        |if (!${ev.isNull}) {
        |  $assign
        |}""".stripMargin)
    }
  }
}
