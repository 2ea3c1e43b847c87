package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Runtime installer for the graft optimizer rules on extension-less
  * sessions. The mains build plain sessions ([[graft.Sessions.local]]),
  * so the three entries exercising a rule install it via
  * `experimental.extraOptimizations`. Unlike the natives, which every
  * entry installs ([[graft.functions.Natives.install]]), the rules stay
  * per entry: turning them on session-wide would change the plans of the
  * entries that do not install them. The test harness builds its session
  * with `spark.sql.extensions=graft.GraftExtensions`, where the rule is
  * already in the optimizer. Installing again there would (a) apply the
  * rule twice per batch and (b) permanently widen shared session state
  * from inside an entry (ADVICE r7) — so this helper skips the install
  * when the extensions conf names GraftExtensions or the rule is already
  * in extraOptimizations. All three graft rules are individually
  * idempotent (none can match its own output), so even an undetected
  * duplicate (`.withExtensions` code-path sessions set no conf) costs
  * only a no-op second pass, never a wrong plan.
  */
object RuleInstall {
  def ensure(s: SparkSession, rule: Rule[LogicalPlan]): Unit = {
    val viaExtensions = s.conf.getOption("spark.sql.extensions")
      .exists(_.contains(classOf[graft.GraftExtensions].getName))
    if (!viaExtensions && !s.experimental.extraOptimizations.contains(rule))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ rule
  }
}
