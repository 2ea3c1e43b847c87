package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst Expression with whole-stage codegen (SURVEY B39): builds
  * the reference's GeoJSON feature id `"wildweb-" || uuid`
  * (reference task.ts:127). Deliberately implemented as a native Expression
  * rather than a Scala UDF to exercise the extension path: it participates
  * in whole-stage codegen (no UDF serialization boundary, no
  * InternalRow→Row conversion per call) and stays inside the fused
  * WholeStageCodegen span of the surrounding projection.
  */
case class FeatureIdExpression(child: Expression) extends UnaryExpression {
  private val prefix = UTF8String.fromString("wildweb-")

  override def dataType: DataType = StringType
  override def prettyName: String = "feature_id"

  override def nullSafeEval(input: Any): Any =
    UTF8String.concat(prefix, input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val prefixRef = ctx.addReferenceObj("prefix", prefix, classOf[UTF8String].getName)
    defineCodeGen(ctx, ev, c => s"org.apache.spark.unsafe.types.UTF8String.concat($prefixRef, $c)")
  }

  override protected def withNewChildInternal(newChild: Expression): FeatureIdExpression =
    copy(child = newChild)
}

object FeatureIdExpression {
  /** Installs every native ([[Natives.install]]); kept because
    * perfbench's kernel pass calls it by this expression's name. */
  def register(s: org.apache.spark.sql.SparkSession): Unit = Natives.install(s)
}
