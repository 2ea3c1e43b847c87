package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}

/** Mechanical audit of every `Exchange SinglePartition` in the headline
  * plans (VERDICT r17 item 1).
  *
  * A single-partition shuffle is THE Spark scale anti-pattern when its
  * input grows with the corpus — every row funnels through one task. It
  * is also the only correct plan for a bounded rollup (a scalar total, a
  * presentation rank over an O(groups) aggregate), so "zero
  * SinglePartition" is the wrong invariant. The auditable invariant is:
  * every such exchange's input is BOUNDED, with the bound named.
  *
  * Two sanction classes:
  *   - `scalar-partial-agg` (auto-detected): the exchange input is the
  *     output of a partial aggregate with NO grouping keys, i.e. at most
  *     one row per upstream partition regardless of data size. Bounded by
  *     construction; no allowlist entry needed.
  *   - `bounded-rollup` (allowlisted): the input is an earlier rollup
  *     whose cardinality is a fixture- or parameter-bound (buckets, gate
  *     legs, k, R replicates, vocab size …). Each such ENTRY must appear
  *     in [[sanctions]] with the bound spelled out and a max site count;
  *     an un-sanctioned site — the future corpus-proportional funnel this
  *     audit exists to catch — is a violation that turns PlanWalkSpec red.
  *
  * Text-match note (the r17 bug): in FORMATTED explain dumps the node
  * prints as `(n) Exchange` + `Arguments: SinglePartition, …` on separate
  * lines, so grepping the two-word form `Exchange SinglePartition` finds
  * nothing. This audit walks the physical-plan TREE
  * (`ShuffleExchangeExec.outputPartitioning == SinglePartition`), so it is
  * immune to print-format drift; ExplainDump embeds its report so the
  * EXPLAIN.md claim is generated by the same code the spec asserts.
  */
object SinglePartitionAudit {

  /** A sanctioned bounded-rollup funnel in one entry's plan. */
  final case class Sanction(maxSites: Int, bound: String)

  /** One audited site. */
  final case class Site(entry: String, chain: Seq[String], scalar: Boolean)

  final case class Report(sites: Seq[Site], violations: Seq[String])

  def singlePartitionExchanges(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    plan.collect {
      case s: ShuffleExchangeExec if s.outputPartitioning == SinglePartition => s
    }

  /** Build walkable physical plans for the given entries: AQE is toggled
    * OFF for the build so `executedPlan` is the plain tree with
    * EnsureRequirements' exchanges inserted (with AQE on, the tree hides
    * inside an AdaptiveSparkPlanExec wrapper whose internals are private;
    * `sparkPlan` is PRE-EnsureRequirements and contains no exchanges at
    * all — the walker's round-18 false-zero bug). The conf is restored
    * afterwards. */
  def plansFor(spark: SparkSession, entries: Seq[(String, SparkSession => org.apache.spark.sql.DataFrame)])
      : Seq[(String, SparkPlan)] = {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try entries.map { case (n, mk) => n -> mk(spark).queryExecution.executedPlan }
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Nodes strictly below `p` down to (excluding) the next exchange — the
    * work that feeds this shuffle within its stage. */
  private def stageSubtree(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: Exchange => Seq.empty
    case _ => p +: p.children.flatMap(stageSubtree)
  }

  /** True when the exchange input passes through a NO-GROUPING-KEYS
    * aggregate inside its own stage: at most one row per upstream
    * partition (partial mode) or one row total (final/complete) reaches
    * the shuffle, bounded at any corpus size.
    *
    * The aggregate must sit on the exchange's DIRECT child path, walked
    * only through unary nodes (ADVICE r18 item 2): the earlier
    * `stageSubtree(...).exists` form sanctioned the exchange if a no-keys
    * aggregate appeared ANYWHERE in the stage — including on the far leg
    * of a join — so a stage broadcast-joining a scalar aggregate with a
    * corpus-scale stream feeding the SinglePartition shuffle was falsely
    * classified bounded. Any multi-child node (join, union) ends the walk:
    * its output can be corpus-proportional regardless of what one input
    * leg aggregates. A no-keys aggregate found ON the unary chain bounds
    * everything above it (each unary node emits O(rows-in) rows), so
    * walking through keyed aggregates/windows below is still sound. */
  def isScalarPartialAgg(site: ShuffleExchangeExec): Boolean = {
    @annotation.tailrec
    def walk(p: SparkPlan): Boolean = p match {
      case _: Exchange => false
      case a: BaseAggregateExec if a.groupingExpressions.isEmpty => true
      case n if n.children.size == 1 => walk(n.children.head)
      case _ => false
    }
    walk(site.child)
  }

  /** Compact per-site descriptor: the node-name chain from the exchange's
    * child down to the stage boundary (for the audit report / allowlist
    * adjudication), e.g. `Sort > Window > HashAggregate(keys=2)`. */
  def describe(site: ShuffleExchangeExec): Seq[String] =
    stageSubtree(site.child).map {
      case a: BaseAggregateExec =>
        val m = a.aggregateExpressions.headOption.map(_.mode.toString).getOrElse("?")
        s"${a.nodeName}(keys=${a.groupingExpressions.size},$m)"
      case n => n.nodeName
    }

  /** Sanctioned bounded-rollup sites, entry → (max sites, named bound).
    * Every bound is an O(1)-vs-corpus quantity: parameter counts (k, R,
    * bands, buckets, legs), vocab/gate sizes, or per-group rollups whose
    * group count is fixed by the operator's contract. Adjudicated
    * individually in round 18 (VERDICT r17 item 1); the per-site chains
    * live in EXPLAIN.md's audit section, regenerated with every close. */
  val sanctions: Map[String, Sanction] = Map(
    // release capstone: gate legs / card sections / manifest rollups —
    // presentation tails over <= 27-row aggregates, run twice (clean +
    // planted candidate) plus the release diff; the heaviest sanctioned
    // entry by far, every site a sub-30-row stage
    "b270_corpus_release" -> Sanction(40,
      "gate-leg/card/manifest rollups: <= 27 rows each (4 gate legs, " +
        "card sections, version identity), x2 candidates"),
    "b190_dataset_card" -> Sanction(12,
      "card section rollups: one row per section stat (<= 12 sections)"),
    "b110_hybrid_rrf" -> Sanction(6,
      "per-query fused rank lists: <= k rows per ranker (k=10, 2 rankers)"),
    "b117_funnel_steps" -> Sanction(4,
      "funnel step counts: one row per step (3 steps) + conversion tail"),
    "b285_ab_bootstrap_ci" -> Sanction(3,
      "replicate rollup: 2R rows (R=200 bootstrap replicates x 2 variants)"),
    "b100_dsir_resample" -> Sanction(3,
      "importance-weight bucket totals: O(buckets) rows (256 hash buckets)"),
    "b156_ql_dirichlet" -> Sanction(3,
      "collection LM stats: one row per query term (<= |query| terms)"),
    "b261_retrieval_eval" -> Sanction(3,
      "per-query metric rollup: one row per eval query (fixed query set)"),
    "b264_quality_drift_monitor" -> Sanction(3,
      "per-window drift stats: one row per (window, signal) pair (5 signals)"),
    "b197_basket_rules" -> Sanction(2,
      "rule presentation rank: O(rules) rows (support-pruned pair rules)"),
    "b240_brand_affinity" -> Sanction(2,
      "brand-pair lift rollup: O(brands^2) rows (25 brands)"),
    "b106_global_running_sum" -> Sanction(2,
      "two-phase prefix scan totals: one row per bucket (32 buckets)"),
    "b185_table_stats" -> Sanction(2,
      "per-column stats rollup: one row per profiled column"),
    "b101_training_data_capstone" -> Sanction(2,
      "pipeline stage counters: one row per stage"),
    "b286_curriculum_order" -> Sanction(2,
      "OrderStats bucket totals: one row per rank bucket (32 buckets)"),
    "b107_text_bm25" -> Sanction(2,
      "corpus stats (N, avgdl): single-row broadcast scalar"),
    "b113_bm25_blockmax" -> Sanction(2,
      "corpus stats (N, avgdl): single-row broadcast scalar"),
    "b46_text_tfidf" -> Sanction(2,
      "corpus doc count: single-row scalar for idf"),
    "b265_classifier_threshold_sweep" -> Sanction(2,
      "threshold grid rollup: one row per swept threshold (fixed grid)"),
    "b257_ensemble_funnel" -> Sanction(2,
      "funnel stage counts: one row per ensemble stage (5 signals)"),
    "b129_kneser_ney_bigram" -> Sanction(2,
      "KN discount stats: one row per count-of-count class (<= 3)"),
    "b164_ppmi_cooccurrence" -> Sanction(2,
      "corpus totals for PMI: single-row scalar"),
    "b137_lm_doc_score" -> Sanction(2,
      "collection LM totals: single-row scalar"),
    "b279_pmi_collocations" -> Sanction(2,
      "corpus bigram/unigram totals: single-row scalar"),
    "b161_stream_collocations" -> Sanction(2,
      "corpus totals per replay chunk: single-row scalar"),
    "b98_mixture_resample" -> Sanction(2,
      "mixture source totals: one row per source (<= 4 sources)"),
    "b115_bm25_rm3" -> Sanction(2,
      "RM3 expansion term rollup: <= fbTerms rows (fixed expansion size)"),
    "b116_bm25_dedup_collapse" -> Sanction(2,
      "corpus stats (N, avgdl): single-row broadcast scalar"),
    "b159_tokenizer_compare" -> Sanction(2,
      "per-tokenizer fertility rollup: one row per tokenizer (3)"),
    "b138_curriculum_order" -> Sanction(2,
      "tier thresholds: one row per tier boundary (fixed tier count)"),
  )

  /** Audit every (entry, plan): classify each SinglePartition site, flag
    * violations (un-sanctioned non-scalar site, or more sites than the
    * sanction's max). */
  def audit(plans: Seq[(String, SparkPlan)]): Report = {
    val sites = plans.flatMap { case (entry, plan) =>
      singlePartitionExchanges(plan).map { s =>
        Site(entry, describe(s), isScalarPartialAgg(s))
      }
    }
    val violations = Seq.newBuilder[String]
    for ((entry, es) <- sites.groupBy(_.entry).toSeq.sortBy(_._1)) {
      val nonScalar = es.filterNot(_.scalar)
      sanctions.get(entry) match {
        case None if nonScalar.nonEmpty =>
          violations += s"$entry: ${nonScalar.size} un-sanctioned non-scalar " +
            s"SinglePartition site(s): ${nonScalar.map(_.chain.take(3).mkString(">")).mkString("; ")}"
        case Some(s) if es.size > s.maxSites =>
          violations += s"$entry: ${es.size} SinglePartition sites exceed " +
            s"sanctioned max ${s.maxSites}"
        case _ => ()
      }
    }
    Report(sites, violations.result())
  }

  /** Markdown audit section for EXPLAIN.md. */
  def reportMarkdown(r: Report): String = {
    val sb = new StringBuilder
    sb.append("\n## SinglePartition audit\n\n")
    sb.append("Tree-walk over every dumped plan (`ShuffleExchangeExec` with\n")
    sb.append("`outputPartitioning == SinglePartition` — the FORMATTED text form\n")
    sb.append("is `Exchange` + `Arguments: SinglePartition`, which a two-word grep\n")
    sb.append("misses; this section is generated by graft.plans.SinglePartitionAudit,\n")
    sb.append("the same walker PlanWalkSpec asserts). Classes: `scalar` = input is a\n")
    sb.append("no-keys partial aggregate (<= 1 row/partition by construction);\n")
    sb.append("`rollup` = sanctioned bounded rollup, bound named below.\n\n")
    val byEntry = r.sites.groupBy(_.entry).toSeq.sortBy(-_._2.size)
    sb.append(s"Total: ${r.sites.size} sites in ${byEntry.size} plans; ")
    sb.append(s"${r.sites.count(_.scalar)} scalar, ")
    sb.append(s"${r.sites.count(!_.scalar)} sanctioned rollups; ")
    sb.append(s"${r.violations.size} violations.\n\n")
    for ((entry, es) <- byEntry) {
      val bound = sanctions.get(entry).map(_.bound)
        .getOrElse("(all scalar — no sanction needed)")
      sb.append(s"- **$entry** — ${es.size} site(s); bound: $bound\n")
      for (s <- es) {
        val cls = if (s.scalar) "scalar" else "rollup"
        sb.append(s"  - [$cls] ${s.chain.take(4).mkString(" > ")}\n")
      }
    }
    if (r.violations.nonEmpty) {
      sb.append("\n### VIOLATIONS\n\n")
      r.violations.foreach(v => sb.append(s"- $v\n"))
    }
    sb.toString
  }

  /** Raw-dump main for adjudication: prints every site's chain at the
    * given SF so allowlist bounds can be written/checked by hand. */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.Sessions.local("graft-sp-audit")
    val plans = plansFor(spark,
      graft.ExplainDump.dumpSet.map(e => e.name -> ((s: SparkSession) => e.q(s, sfDir))))
    val r = audit(plans)
    for (s <- r.sites)
      println(s"${s.entry}\t${if (s.scalar) "scalar" else "rollup"}\t${s.chain.take(6).mkString(" > ")}")
    println(s"TOTAL ${r.sites.size} scalar=${r.sites.count(_.scalar)} violations=${r.violations.size}")
    r.violations.foreach(v => println(s"VIOLATION $v"))
    spark.stop()
  }
}
