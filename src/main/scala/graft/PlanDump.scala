package graft

import java.nio.file.{Files, Paths}

/** Writes `<outDir>/<query>.txt` with the formatted physical plan of each
  * named query — the per-change evidence capture behind `plans/r20/`
  * (EXPLAIN.md stays the full-set artifact; this is the targeted
  * before/after tool the optimization rounds diff).
  *
  * Usage: runMain graft.PlanDump <outDir> <name>[,<name>...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: PlanDump <outDir> <name>[,<name>...]")
    val outDir = Paths.get(args(0))
    Files.createDirectories(outDir)
    val names = args(1).split(",").toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-plandump")
    val byName = SparkEntry.all.map(e => e.name -> e).toMap
    for (n <- names) {
      // `graph_rounds` is a pseudo-name: dump the iterative operators'
      // ROUND-BODY frames (the loop body over a materialized adjacency
      // and a round-1 state) — the final-round query dumps cannot show
      // the per-round shape (r20 VERDICT item 3).
      if (n == "graph_rounds") {
        for ((rn, df) <- graft.operators.GraphOps.roundFrames(spark, sfDir)) {
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(outDir.resolve(s"$rn.txt"), txt)
          println(s"[plandump] wrote $outDir/$rn.txt")
        }
      } else if (n == "span_stages") {
        // the default span-dedup path materializes its per-doc covered
        // relation eagerly, so the entry plans show only the rebuild
        // tail over an ExistingRDD; dump the LAZY twins (result-equal,
        // pinned in CorpusCleanSpec) so the salted stats / dup-probe
        // shape is pinned by artifact (the graph_rounds convention).
        val docs = graft.llm.TextDedup.docsWithDups(spark, sfDir)
        val frames = Seq(
          "b93_span_stages_lazy" ->
            graft.llm.SpanDedup.removeRepeatedSpans(docs,
              materializeOcc = false),
          "b244_span_stages_lazy" ->
            graft.llm.SpanDedup.removeLongRepeats(
              graft.sources.Tables.documents(spark, sfDir)
                .select(org.apache.spark.sql.functions.col("doc_id"),
                  org.apache.spark.sql.functions.col("text")),
              materializeOcc = false))
        for ((rn, df) <- frames) {
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(outDir.resolve(s"$rn.txt"), txt)
          println(s"[plandump] wrote $outDir/$rn.txt")
        }
      } else {
        val e = byName.getOrElse(n, sys.error(s"unknown query: $n"))
        val df = e.q(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(outDir.resolve(s"$n.txt"), txt)
        println(s"[plandump] wrote $outDir/$n.txt")
      }
    }
    spark.stop()
  }
}
