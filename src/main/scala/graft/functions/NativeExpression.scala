package graft.functions

import java.lang.reflect.InvocationTargetException

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A call of one row of [[Natives.rows]]: the row's name and the call's
  * children are the whole node, and everything else comes from the row.
  * The children's types pick the row's kernel (an analysis error names
  * the accepted types otherwise); the call is null when a child is null
  * or the kernel returns null; interpreted eval and generated code call
  * the same static kernel method, so each kernel loop is written once
  * and the call stays inside the surrounding whole-stage codegen span.
  * It prints and names its column as `name(args)`. */
case class NativeExpression(name: String, children: Seq[Expression]) extends Expression {

  @transient private lazy val native: Native = Natives.byName(name)
  @transient private lazy val kernel: Kernel = native.kernelFor(children.map(_.dataType)).get

  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = children.iterator
  override def dataType: DataType = native.dataType
  override def nullable: Boolean = native.nullResult || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult = {
    def shape(types: Seq[DataType]): String =
      if (types.size == 1) types.head.catalogString
      else types.map(_.catalogString).mkString("(", ", ", ")")
    val got = children.map(_.dataType)
    if (native.kernelFor(got).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires ${native.kernels.map(k => shape(k.inputs)).mkString(" or ")}, " +
        s"got ${shape(got)}")
  }

  override def eval(input: InternalRow): Any = {
    val args = children.iterator.map(_.eval(input).asInstanceOf[AnyRef]).takeWhile(_ != null)
      .toArray
    if (args.length < children.size) null
    else try kernel.method.invoke(null, args: _*)
    catch { case e: InvocationTargetException if e.getCause != null => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val call = s"${kernel.owner}.${kernel.method.getName}(${args.map(_.value).mkString(", ")})"
    val javaType = CodeGenerator.javaType(dataType)
    val result =
      if (!native.nullResult) s"${ev.value} = $call;"
      else {
        val r = ctx.freshName("result")
        s"""${CodeGenerator.boxedType(dataType)} $r = $call;
           |${ev.isNull} = $r == null;
           |if (!${ev.isNull}) ${ev.value} = $r;""".stripMargin
      }
    val declare = s"$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};"
    // each child's code runs only when every child before it is non-null
    val body = children.zip(args).foldRight((if (nullable) s"${ev.isNull} = false;\n" else "") +
        result) { case ((child, arg), inner) =>
      s"${arg.code}\n" + (if (child.nullable) s"if (!${arg.isNull}) {\n$inner\n}" else inner)
    }
    if (nullable) ev.copy(code = code"${s"boolean ${ev.isNull} = true;\n$declare\n$body"}")
    else ev.copy(isNull = FalseLiteral, code = code"${s"$declare\n$body"}")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NativeExpression = copy(children = newChildren)
}
