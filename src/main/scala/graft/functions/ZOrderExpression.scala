package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Morton (Z-order) interleave of two bucketized long keys (SURVEY §2C
  * tier (b): a custom scalar Expression where no built-in composition is
  * codegen-clean).
  *
  * `z_order2(x, y)` interleaves the low [[ZOrderExpression.Bits]] bits of
  * each input — x on even bit positions, y on odd — producing the key for
  * multi-dimensional data clustering: sorting by z-value keeps rows close
  * in BOTH dimensions physically close in the file, so parquet row-group
  * min/max stats stay tight on BOTH columns and a range predicate on
  * either (or both) skips most row groups. Single-column sorting (the b61
  * layout) gives that for one column only.
  *
  * Callers bucketize raw keys into [0, 2^Bits) first — typically
  * `(k - min) * (2^Bits - 1) div max(max - min, 1)` with min/max from
  * table stats — because interleaving RAW low bits (high-entropy) would
  * destroy locality instead of creating it. The expression masks inputs
  * to Bits bits regardless, so out-of-range inputs degrade (wrap) rather
  * than corrupt the sort.
  *
  * The built-in spelling — an `aggregate(sequence(0, Bits-1), ...)` fold
  * of shift/or terms — evaluates two interpreted lambdas per bit per row
  * at write time; this is one fused loop that participates in whole-stage
  * codegen. Null in either key → null (sorts together, like NULLS in any
  * layout column).
  */
case class ZOrderExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  import ZOrderExpression.{Bits, Mask}

  override def dataType: DataType = LongType
  override def prettyName: String = "z_order2"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (LongType, LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (bigint, bigint), got " +
            s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }
  }

  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(a: Any, b: Any): Any =
    ZOrderExpression.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val z = ctx.freshName("z")
      val i = ctx.freshName("i")
      s"""
         |long $x = $a & ${Mask}L;
         |long $y = $b & ${Mask}L;
         |long $z = 0L;
         |for (int $i = 0; $i < $Bits; $i++) {
         |  $z |= (($x >>> $i) & 1L) << ($i << 1);
         |  $z |= (($y >>> $i) & 1L) << (($i << 1) + 1);
         |}
         |${ev.value} = $z;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrderExpression =
    copy(left = newLeft, right = newRight)
}

object ZOrderExpression {
  /** 21 bits per dimension → 42-bit z-values: enough for 2M buckets per
    * dimension (far beyond useful clustering granularity) while two
    * interleaved dimensions stay well inside a long. */
  val Bits: Int = 21
  val Mask: Long = (1L << Bits) - 1

  /** JVM twin of the generated loop (used by eval and the spec oracle). */
  def interleave(a: Long, b: Long): Long = {
    val x = a & Mask
    val y = b & Mask
    var z = 0L
    var i = 0
    while (i < Bits) {
      z |= ((x >>> i) & 1L) << (i << 1)
      z |= ((y >>> i) & 1L) << ((i << 1) + 1)
      i += 1
    }
    z
  }

  def build(children: Seq[Expression]): ZOrderExpression = {
    if (children.size != 2)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> "z_order2", "expectedNum" -> "2",
          "actualNum" -> children.size.toString, "docroot" -> ""))
    ZOrderExpression(children(0), children(1))
  }

  /** Installs every native ([[Natives.install]]); kept because
    * perfbench's kernel pass calls it by this expression's name. */
  def register(s: org.apache.spark.sql.SparkSession): Unit = Natives.install(s)
}
