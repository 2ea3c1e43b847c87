package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** `feature_id(uuid)`: the reference's GeoJSON feature id
  * `"wildweb-" || uuid` (reference task.ts:127), as a native rather than
  * a Scala UDF (SURVEY B39) to exercise the extension path: it takes
  * part in whole-stage codegen (no UDF serialization boundary, no
  * InternalRow→Row conversion per call) and stays inside the fused
  * WholeStageCodegen span of the surrounding projection.
  */
object FeatureIdExpression {
  private val Prefix = UTF8String.fromString("wildweb-")

  def id(uuid: UTF8String): UTF8String = UTF8String.concat(Prefix, uuid)

  /** Installs every native ([[Natives.install]]); kept because
    * perfbench's kernel pass calls it by this expression's name. */
  def register(s: org.apache.spark.sql.SparkSession): Unit = Natives.install(s)
}
