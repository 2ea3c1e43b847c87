package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}

import graft.exec.QueryScope

/** Writes `<outDir>/<query>.txt` with the formatted physical plan of each
  * named query, plus `<outDir>/<query>.<leg>.txt` for each leg the query
  * materialized eagerly while it was built (its pre-checkpoint plan, as
  * recorded by [[graft.exec.QueryScope]]; a repeated leg keeps its first
  * occurrence, a loop's round 1) — the per-change evidence capture behind
  * `plans/r20/` (EXPLAIN.md stays the full-set artifact; this is the
  * targeted before/after tool the optimization rounds diff).
  *
  * Usage: runMain graft.PlanDump <outDir> <entry>[,<entry>...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: PlanDump <outDir> <entry>[,<entry>...]")
    val outDir = Paths.get(args(0))
    Files.createDirectories(outDir)
    val names = args(1).split(",").toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-plandump")
    val byName = SparkEntry.all.map(e => e.name -> e).toMap
    def write(name: String, qe: QueryExecution): Unit = {
      Files.writeString(outDir.resolve(s"$name.txt"),
        qe.explainString(FormattedMode))
      println(s"[plandump] wrote $outDir/$name.txt")
    }
    for (n <- names) {
      val e = byName.getOrElse(n, sys.error(s"unknown query: $n"))
      QueryScope("plandump") {
        write(n, e.q(spark, sfDir).queryExecution)
        for ((leg, plan) <- QueryScope.legs)
          write(s"$n.$leg", spark.sessionState.executePlan(plan))
      }
    }
    spark.stop()
  }
}
