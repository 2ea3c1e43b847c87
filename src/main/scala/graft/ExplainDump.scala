package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Writes EXPLAIN.md: the formatted physical plan of every bench headline
  * query at the bench scale factor — the artifact to eyeball for scan
  * pushdown (PushedFilters/ReadSchema), join strategy, and
  * WholeStageCodegen span width (SURVEY §4B checklist; PlanSpec asserts
  * the load-bearing properties mechanically). */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-explain")
    val sb = new StringBuilder
    sb.append("# EXPLAIN — bench headline query plans (")
      .append(sfDir).append(")\n\n")
      .append("Generated by `runMain graft.ExplainDump`. What to look for:\n")
      .append("scans carry `PushedFilters` + pruned `ReadSchema`; dimension\n")
      .append("joins are `BroadcastHashJoin`; fact-fact joins are one\n")
      .append("`Exchange` + `SortMergeJoin`; range/as-of joins never show\n")
      .append("`CartesianProduct`/`BroadcastNestedLoopJoin`; aggregates are\n")
      .append("two-phase (`partial_` then final) inside wide\n")
      .append("`WholeStageCodegen` spans.\n")
    val dumped = dumpSet
    for (e <- dumped) {
      sb.append(s"\n## ${e.name}\n\n```\n")
      val df = e.q(spark, sfDir)
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    // SinglePartition audit (VERDICT r17 item 1): tree-walk the SAME plans
    // just dumped and append the classified site list, so the EXPLAIN.md
    // claim is produced by the walker PlanWalkSpec asserts — not a grep
    // over the formatted text (whose node/argument split hid the sites).
    val report = graft.plans.SinglePartitionAudit.audit(
      graft.plans.SinglePartitionAudit.plansFor(spark,
        dumped.map(e => e.name -> ((s: SparkSession) => e.q(s, sfDir)))))
    sb.append(graft.plans.SinglePartitionAudit.reportMarkdown(report))
    Files.writeString(Paths.get("EXPLAIN.md"), sb.toString)
    println(s"[explain] wrote EXPLAIN.md (${dumped.size} queries; " +
      s"${report.sites.size} SinglePartition sites, " +
      s"${report.violations.size} violations)")
    report.violations.foreach(v => println(s"[explain] VIOLATION $v"))
    spark.stop()
  }

  /** The audited plan set: bench headliners plus non-bench queries whose
    * PLANS carry the scale argument — the three scan-reduction operators
    * (bloom prefilter b60, partition-pruned layout b61, z-order b76/b81:
    * re-read scans must show predicates landing at the source); b84b (the
    * IVFADC scoring join must be keyed on cell, never b84's cross join);
    * b93 (per-gram first-occurrence is a two-phase partial_min aggregate,
    * not a window over hot grams); b97 (the packing prefix scan has NO
    * SinglePartition window) and b98 (map-side mixture selector off a
    * broadcast threshold join); the round-10 production paths b115/b116
    * (RM3 + serve-time collapse), b117/b118 (funnel/retention joins), b119
    * (Pregel round: dst-keyed partial-sum); the round-12 loader manifests
    * b134 (batching window PARTITIONED by length bucket) and b138
    * (tier/shard window over the broadcast-model scoring join); and the
    * round-13 additions b151/b152/b159 (tokenizer scalars in ONE codegen
    * span), b154 (BFD ships counts, never text), b156 (sparse QL touches
    * only query-term postings), b157 (LPA round: two map-combinable
    * aggregates, no window), b160 (anchor probes broadcast). */
  def dumpSet: Seq[graft.Registry.Entry] = {
    val extras = Set("b60_join_bloom", "b61_layout_partitioned",
      "b151_bpe_roundtrip", "b152_unigram_tokenize", "b154_pack_bestfit",
      "b156_ql_dirichlet", "b157_label_propagation", "b159_tokenizer_compare",
      "b160_contrastive_pairs",
      "b76_layout_zorder", "b81_scan_zonemap", "b84b_similarity_ivfpq",
      "b93_dedup_spans", "b97_sequence_pack", "b98_mixture_resample",
      "b99_dedup_semantic", "b100_dsir_resample", "b102_kmeans_cells",
      "b103_text_chunks", "b115_bm25_rm3", "b116_bm25_dedup_collapse",
      "b117_funnel_steps", "b118_cohort_retention",
      "b119_pagerank_copurchase", "b134_length_bucket_batches",
      "b138_curriculum_order")
    val benchSet = SparkEntry.benchQueries
    val benchNames = benchSet.map(_.name).toSet
    benchSet ++
      SparkEntry.all.filter(e => extras(e.name) && !benchNames(e.name))
  }
}
