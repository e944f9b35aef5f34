package graft.functions

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** The one Catalyst expression behind every native kernel: a call of the
  * public static method `kernels.method` with, in this order,
  *   - the children's values,
  *   - one isFloat flag per [[KernelCall.FloatVec]] child, worked out
  *     from its resolved type (the kernel reads `array<float>` natively —
  *     no per-row cast; float→double widening is exact),
  *   - the constants: primitives inlined as literals, objects passed as
  *     reference objects typed by the method's own parameter types.
  *
  * Codegen emits one direct static call per row; interpreted `eval`
  * calls the same method through a cached `java.lang.reflect.Method`.
  * A null child yields null without calling the kernel. Plans print
  * `name(children…, constants…)`.
  *
  * Not Spark's `StaticInvoke`, which stores every argument in
  * class-level mutable state on each row.
  *
  * @param inputTypes each child's required type as its `simpleString`
  *                   (`bigint`, `array<string>`, …) or `FloatVec`
  */
case class KernelCall(
    name: String,
    kernels: String,
    method: String,
    children: Seq[Expression],
    inputTypes: Seq[String],
    dataType: DataType,
    constants: Seq[Any]) extends Expression {

  override def prettyName: String = name
  // one-dimensional object arrays (stopwords, language names) print their
  // elements; numeric and nested tables print as JVM references
  override def stringArgs: Iterator[Any] = children.iterator ++ constants.iterator.flatMap {
    case a: Array[AnyRef] if !a.getClass.getComponentType.isArray => a.iterator
    case c => Iterator.single(c)
  }
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)

  // Constants compare by content, so two calls with equal stopword lists
  // (distinct array instances) are still one common subexpression.
  private def key = (name, kernels, method, children, inputTypes, dataType)
  private def constantArray: Array[AnyRef] = constants.map(_.asInstanceOf[AnyRef]).toArray
  override def equals(o: Any): Boolean = o match {
    case k: KernelCall => (this eq k) ||
      (key == k.key && java.util.Arrays.deepEquals(constantArray, k.constantArray))
    case _ => false
  }
  @transient private lazy val hash = (key, java.util.Arrays.deepHashCode(constantArray)).##
  override def hashCode(): Int = hash

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = children.map(_.dataType)
    if (got.length == inputTypes.length &&
      got.zip(inputTypes).forall { case (g, w) => KernelCall.accepts(w, g) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires ${KernelCall.list(inputTypes)}, " +
        s"got ${KernelCall.list(got.map(_.simpleString))}")
  }

  private def floatFlags: Seq[Boolean] = children.zip(inputTypes).collect {
    case (c, KernelCall.FloatVec) => c.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
  }

  @transient private lazy val target: Method = {
    val arity = children.length + inputTypes.count(_ == KernelCall.FloatVec) + constants.length
    Class.forName(kernels).getMethods
      .find(m => m.getName == method && m.getParameterCount == arity &&
        Modifier.isStatic(m.getModifiers))
      .getOrElse(throw new IllegalArgumentException(
        s"$name: no public static $kernels.$method taking $arity arguments"))
  }

  @transient private lazy val fixedArgs: Array[AnyRef] =
    (floatFlags ++ constants).map(_.asInstanceOf[AnyRef]).toArray

  override def eval(input: InternalRow): Any = {
    val n = children.length
    val args = new Array[AnyRef](n + fixedArgs.length)
    var i = 0
    while (i < n) {
      val v = children(i).eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    System.arraycopy(fixedArgs, 0, args, n, fixedArgs.length)
    try target.invoke(null, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val flags = floatFlags
    val params = target.getParameterTypes.drop(children.length + flags.length)
    val consts = constants.zip(params).map { case (c, p) =>
      if (p.isPrimitive) Literal(c).genCode(ctx).value.toString
      else ctx.addReferenceObj(name, c, p.getCanonicalName)
    }
    val args = gens.map(_.value.toString) ++ flags.map(_.toString) ++ consts
    val call = s"${ev.value} = $kernels.$method(${args.mkString(", ")});"
    val declare = s"${CodeGenerator.javaType(dataType)} ${ev.value} = " +
      s"${CodeGenerator.defaultValue(dataType)};"
    if (nullable) {
      val guarded = children.zip(gens).foldRight(s"${ev.isNull} = false;\n$call") {
        case ((c, g), inner) => s"${g.code}\n" + ctx.nullSafeExec(c.nullable, g.isNull)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $declare
        $guarded""")
    } else {
      ev.copy(code = code"""
        ${gens.map(_.code).mkString("\n")}
        $declare
        $call""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object KernelCall {
  /** Input type `array<float|double>`; the kernel takes an isFloat flag for it. */
  val FloatVec = "array<float|double>"

  /** Column of `kernels.method(args…, isFloat flags…, constants…)`, shown
    * as `name` in plans and SQL. `args` pair each column with its
    * required input type.
    */
  def column(name: String, kernels: AnyRef, method: String, dataType: DataType,
             args: Seq[(Column, String)], constants: Any*): Column =
    ColumnBridge.column(KernelCall(name, kernels.getClass.getName.stripSuffix("$"), method,
      args.map(a => ColumnBridge.expression(a._1)), args.map(_._2), dataType, constants))

  private def accepts(want: String, got: DataType): Boolean = got match {
    case ArrayType(FloatType | DoubleType, _) if want == FloatVec => true
    case _ => got.simpleString == want
  }

  private def list(types: Seq[String]): String =
    if (types.length == 1) types.head else types.mkString("(", ", ", ")")
}
