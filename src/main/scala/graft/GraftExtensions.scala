package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.Natives

/** SparkSessionExtensions entry point (SURVEY §4B: the documented injection
  * point for custom Catalyst pieces). A session built with
  *
  *   builder.withExtensions(new GraftExtensions)         // code
  *   --conf spark.sql.extensions=graft.GraftExtensions   // config
  *
  * gets every native of [[graft.functions.Natives]]'s table in SQL with
  * full whole-stage codegen (other sessions get the same table from
  * [[graft.functions.Natives.install]], which every registry entry runs),
  * plus the three graft optimizer rules: [[graft.plans.RangeJoinBucketing]],
  * which rewrites naive band/interval theta joins (O(n·m) nested-loop
  * plans) into bucketed equi joins, [[graft.plans.CosineLshRewrite]] and
  * [[graft.plans.GlobalWindowScanRewrite]]. On extension-less sessions the
  * entries that exercise a rule install it themselves via
  * [[graft.plans.RuleInstall]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    for ((name, builder) <- Natives.table)
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(Natives.getClass.getName, name), builder))
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinBucketing)
    ext.injectOptimizerRule(_ => graft.plans.CosineLshRewrite)
    ext.injectOptimizerRule(_ => graft.plans.GlobalWindowScanRewrite)
  }
}
