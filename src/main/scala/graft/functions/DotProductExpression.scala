package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two array<double> columns (SURVEY §2C tier (b):
  * a custom scalar Expression where the built-in form is inefficient).
  *
  * The HOF spelling `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, +)` builds
  * an intermediate product array and evaluates two lambdas per element in
  * the interpreter — per-row allocation and megamorphic dispatch in the
  * hottest loop of similarity search. This Expression is a single fused
  * primitive loop in both eval and codegen, and participates in whole-stage
  * codegen so the loop inlines into the surrounding projection.
  *
  * Summation is the same left-to-right order as the HOF fold and DuckDB's
  * list_dot_product, so t2 hash-matches are bit-identical. Mismatched
  * lengths yield NULL — the HOF's behavior (zip_with null-pads, null
  * poisons the sum), and the conservative reading of DuckDB's hard error;
  * a silent common-prefix dot product would rank corrupt vectors with
  * plausible-looking scores. A null element also yields null.
  */
case class DotProductExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f64"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<double>, array<double>), got " +
            s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }
  }

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (n != ys.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      acc += xs.getDouble(i) * ys.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpression =
    copy(left = newLeft, right = newRight)
}

object DotProductExpression {
  /** Arity-checked builder — silently dropping extra arguments (or an
    * IndexOutOfBounds on too few) would be a wrong-result/raw-crash
    * diagnostic; this surfaces as a clean analysis-time error instead. */
  def build(children: Seq[Expression]): DotProductExpression = {
    if (children.size != 2)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> "dot_f64", "expectedNum" -> "2",
          "actualNum" -> children.size.toString, "docroot" -> ""))
    DotProductExpression(children(0), children(1))
  }

  /** Installs every native ([[Natives.install]]); kept because
    * perfbench's kernel pass calls it by this expression's name. */
  def register(s: org.apache.spark.sql.SparkSession): Unit = Natives.install(s)
}
