package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native BIGINT-vector primitives for the integer-exact embedding ops
  * (B99 SemDeDup, B102 k-means): dot product and squared L2 distance
  * over two array<bigint> columns.
  *
  * The HOF spelling (`aggregate(zip_with(a, b, ...), 0L, +)`) allocates
  * an intermediate array and interprets two lambdas per element; B99's
  * within-cell pair filter evaluates it over |cell|² pairs × dim
  * elements, where it dominated the bench. These are fused primitive
  * loops (the dot_f64 pattern at LongType), codegen-inlined. Integer
  * sums are order-insensitive, so equality with the HOF and DuckDB
  * list_reduce spellings is exact by construction. Mismatched lengths
  * and null elements yield NULL (the zip_with-null-poisons-sum
  * behavior). */
abstract class LongVecBinary extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<bigint>, array<bigint>), got " +
            s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }

  /** Java source for one element's contribution, given element exprs. */
  protected def term(x: String, y: String): String
  protected def termEval(x: Long, y: Long): Long

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (n != ys.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      acc += termEval(xs.getLong(i), ys.getLong(i))
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
         |long $acc = 0L;
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += ${term(s"$a.getLong($i)", s"$b.getLong($i)")};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
}

/** `dot_i64(a, b)` = Σ aᵢ·bᵢ as BIGINT. */
case class DotI64Expression(left: Expression, right: Expression)
    extends LongVecBinary {
  override def prettyName: String = "dot_i64"
  override protected def term(x: String, y: String): String = s"$x * $y"
  override protected def termEval(x: Long, y: Long): Long = x * y
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotI64Expression =
    copy(left = newLeft, right = newRight)
}

/** `sqdist_i64(a, b)` = Σ (aᵢ−bᵢ)² as BIGINT. */
case class SqDistI64Expression(left: Expression, right: Expression)
    extends LongVecBinary {
  override def prettyName: String = "sqdist_i64"
  override protected def term(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"
  override protected def termEval(x: Long, y: Long): Long = (x - y) * (x - y)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistI64Expression =
    copy(left = newLeft, right = newRight)
}
