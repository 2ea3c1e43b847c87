package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.sources.Tables

/** B256/B257 — THE QUALITY-ENSEMBLE CAPSTONE: the engine's five
  * independent quality signals composed into ONE FineWeb-style keep
  * decision (Penedo et al. 2024 run exactly this shape: doc-level
  * heuristics, then repetition statistics, then a blocklist, then
  * model-based filters — and publish the per-rule removal counts next to
  * the corpus). Users run the ensemble, not five passes; the attribution
  * table is what makes a misconfigured rule VISIBLE (here the synthetic
  * blocklist deliberately blocks common corpus words and the funnel shows
  * it dominating — exactly the artifact a data-quality review reads
  * before shipping a filter config).
  *
  * Production order and the five stages (each reusing the standalone
  * entry's machinery — same Catalyst expressions, same constants):
  *
  *   1. `heur`  — doc-level structural heuristics (the b45q signal family
  *                as per-doc GATES): token-count window [[MinTok]]..
  *                [[MaxTok]] and tokens-per-char density window
  *                [[DensMinBp]]..[[DensMaxBp]] bp (C4's line/doc length
  *                rules, Raffel et al. JMLR'20 §2.2).
  *   2. `rep`   — Gopher repetition statistics (b245's
  *                [[graft.functions.RepetitionStatsExpression]] + the same
  *                three thresholds; Rae et al. 2021 Table A1).
  *   3. `block` — the b182 dictionary blocklist verdict
  *                ([[Blocklist.auditReport]], severity tiers + mild
  *                density).
  *   4. `ppl`   — the b95 CCNet perplexity tertile
  *                ([[Perplexity.perplexityReport]]): tail tertile
  *                (bucket 3) drops. ADMISSION-NEUTRAL where unscored: the
  *                model only scores the odd-id test split and drops
  *                untrained langs (the b95 contract), so a doc with no
  *                verdict passes this stage — a quality model vetoes,
  *                it never convicts in absentia.
  *   5. `clf`   — the b243 learned classifier
  *                ([[graft.functions.QualityScoreExpression]]): score ≤ 0
  *                drops (the b243 gate keeps score > 0).
  *
  * B256 emits the per-doc attribution row (five 0/1 flags, flag count,
  * and `killed_by` — the FIRST stage in production order that fires, the
  * stage that would actually drop the doc in a short-circuiting
  * pipeline); B257 emits the funnel/ablation table: per stage, docs
  * entering, killed there, surviving, plus `solo_kills` — docs ONLY that
  * rule flags, i.e. exactly the docs re-admitted if the rule alone were
  * removed (the per-rule ablation FineWeb publishes).
  *
  * Composition ≡ independent stages (QualityEnsembleSpec): every flag is
  * recomputed from the standalone reports and compared row-for-row, and
  * every rule observably bites at the fixture (non-zero kills AND
  * non-zero survivors overall).
  *
  * Integer-exact: flags are BIGINT 0/1 from integer comparisons; the
  * funnel is sums of flag products; the only float in the ensemble is
  * b95's `bits` INSIDE its own stage, consumed as a tertile label.
  *
  * Scale posture (100 TB): three of the five signals (heur, rep, clf) are
  * ONE fused map-side projection over the scan — two native codegen
  * expressions plus integer arithmetic, zero exchanges. Only the two
  * genuinely relational stages move data: the blocklist rollup (explode →
  * broadcast dict join → doc-keyed partial agg) and the perplexity model
  * join (broadcast trigram model → doc-keyed agg → per-lang tertile
  * window), each re-joined to the fused scan on doc_id. The funnel (B257)
  * collapses the flags through ONE map-combinable aggregate to a single
  * row — the 15 conditional sums ride the same partial-agg pass, so the
  * ablation table costs nothing beyond the flags themselves.
  */
object QualityEnsemble {

  /** Heuristic-gate windows, sized against the measured fixture
    * distributions so the rule binds without degenerating (fixture docs
    * span 8-104 filtered tokens with density tightly clustered ~1800 bp;
    * the gate kills 8-11% at every SF). The CONTRACT is the rule shape —
    * production corpora retune the knobs. */
  val MinTok = 15L
  val MaxTok = 97L
  val DensMinBp = 1700L
  val DensMaxBp = 2000L

  import QualityClassifier.{Top2MaxBp, Top3MaxBp, Dup2CovMaxBp}

  /** The three FUSED map-side stages appended to ANY (doc_id, text,
    * n_chars, …) relation — batch (B256/B257) and the B263 ingest stream
    * run the IDENTICAL projection: repetition_stats.st[0] IS the
    * filtered token count (the same count qc_feats carries), so the
    * heuristic gate rides the b245 expression for free. Input columns
    * other than the two consumed intermediates pass through. */
  private[graft] def withFusedFlags(docs: DataFrame): DataFrame = {
    docs
      .withColumn("_score", expr("quality_score(text)"))
      .withColumn("_st", expr("repetition_stats(text)"))
      .withColumn("f_heur",
        expr(s"CAST(_st[0] < $MinTok OR _st[0] > $MaxTok" +
          s" OR _st[0] * 10000 div n_chars < $DensMinBp" +
          s" OR _st[0] * 10000 div n_chars > $DensMaxBp AS BIGINT)"))
      .withColumn("f_rep",
        expr("CAST(NOT (" +
          s"(CASE WHEN _st[0] >= 2 THEN _st[1] * 10000 div (_st[0] - 1)" +
          s" ELSE 0 END) <= $Top2MaxBp AND " +
          s"(CASE WHEN _st[0] >= 3 THEN _st[2] * 10000 div (_st[0] - 2)" +
          s" ELSE 0 END) <= $Top3MaxBp AND " +
          s"(CASE WHEN _st[0] >= 2 THEN _st[4] * 10000 div _st[0]" +
          s" ELSE 0 END) <= $Dup2CovMaxBp) AS BIGINT)"))
      .withColumn("f_clf", expr("CAST(_score <= 0 AS BIGINT)"))
      .withColumn("n_tok", expr("_st[0]")) // free for consumers (B264)
      .drop("_score", "_st")
  }

  /** Per-doc flag table (doc_id, f_heur, f_rep, f_block, f_ppl, f_clf) —
    * the shared core of B256 and B257. Unordered; callers add
    * presentation. */
  private[graft] def flagsTable(docs: DataFrame): DataFrame = {
    val fused = withFusedFlags(docs)
      .select(col("doc_id"), col("f_heur"), col("f_rep"), col("f_clf"))
    val blk = Blocklist.auditReport(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        expr("CAST(action = 'drop' AS BIGINT)").as("f_block"))
    val ppl = Perplexity
      .perplexityReport(docs.select(col("doc_id"), col("text"), col("lang")))
      .select(col("doc_id"), expr("CAST(bucket = 3 AS BIGINT)").as("f_ppl"))
    fused.join(blk, Seq("doc_id"))
      .join(ppl, Seq("doc_id"), "left")
      .na.fill(0L, Seq("f_ppl"))
      .select(col("doc_id"), col("f_heur"), col("f_rep"), col("f_block"),
        col("f_ppl"), col("f_clf"))
  }

  /** The four stages' CTE chains chained VERBATIM (qc_/rep_/bl_/ppl_
    * prefixes — the b94 composition convention) + the ensemble flag CTE.
    * Ends in `ens_flags`. */
  private[graft] val flagCtesDuck: String =
    s"""${QualityClassifier.scoreCtesDuck},
       |${QualityClassifier.repCtesDuck},
       |${Blocklist.blockCtesDuck},
       |${Perplexity.pplCtesDuck},
       |ens_flags AS (
       |  SELECT q.doc_id,
       |    CAST(q.n_tok < $MinTok OR q.n_tok > $MaxTok
       |      OR q.n_tok * 10000 // d.n_chars < $DensMinBp
       |      OR q.n_tok * 10000 // d.n_chars > $DensMaxBp AS BIGINT) AS f_heur,
       |    CAST(1 - r.kept AS BIGINT) AS f_rep,
       |    CAST(a.action = 'drop' AS BIGINT) AS f_block,
       |    CAST(coalesce(p.bucket = 3, FALSE) AS BIGINT) AS f_ppl,
       |    CAST(q.score <= 0 AS BIGINT) AS f_clf
       |  FROM qc_feats q
       |  JOIN documents d ON d.doc_id = q.doc_id
       |  JOIN rep_f r ON r.doc_id = q.doc_id
       |  JOIN bl_audit a ON a.doc_id = q.doc_id
       |  LEFT JOIN ppl_report p ON p.doc_id = q.doc_id)""".stripMargin

  /** The B256 attribution tail over ANY 5-flag relation — shared with
    * the B263 streamed admission twin. */
  private[graft] def attributionTail(flags: DataFrame): DataFrame =
    flags
      .withColumn("n_flags",
        expr("f_heur + f_rep + f_block + f_ppl + f_clf"))
      .withColumn("killed_by",
        expr("CASE WHEN f_heur = 1 THEN 'heur' WHEN f_rep = 1 THEN 'rep'" +
          " WHEN f_block = 1 THEN 'block' WHEN f_ppl = 1 THEN 'ppl'" +
          " WHEN f_clf = 1 THEN 'clf' ELSE 'none' END"))
      .select(col("doc_id"), col("f_heur"), col("f_rep"), col("f_block"),
        col("f_ppl"), col("f_clf"), col("n_flags"), col("killed_by"))

  /** B256's oracle — shared VERBATIM by B263's streamed admission twin. */
  private[graft] val ensembleOracleSql: String =
    s"""WITH $flagCtesDuck
       |SELECT doc_id, f_heur, f_rep, f_block, f_ppl, f_clf,
       |       f_heur + f_rep + f_block + f_ppl + f_clf AS n_flags,
       |       CASE WHEN f_heur = 1 THEN 'heur' WHEN f_rep = 1 THEN 'rep'
       |            WHEN f_block = 1 THEN 'block' WHEN f_ppl = 1 THEN 'ppl'
       |            WHEN f_clf = 1 THEN 'clf' ELSE 'none' END AS killed_by
       |FROM ens_flags ORDER BY doc_id""".stripMargin

  private val b256 = entry(
    "b256_quality_ensemble", ensembleOracleSql,
    bench = true) { (s, d) =>
    attributionTail(flagsTable(Tables.documents(s, d))).orderBy("doc_id")
  }

  /** Funnel/ablation over the flags — unordered single row of 16
    * map-combinable sums, stacked to the 5 presentation rows. */
  private[graft] def funnelTable(docs: DataFrame): DataFrame =
    flagsTable(docs).agg(
      count(lit(1)).as("n"),
      sum(col("f_heur")).as("k1"),
      sum(expr("1 - f_heur")).as("in2"),
      sum(expr("(1-f_heur) * f_rep")).as("k2"),
      sum(expr("(1-f_heur)*(1-f_rep)")).as("in3"),
      sum(expr("(1-f_heur)*(1-f_rep) * f_block")).as("k3"),
      sum(expr("(1-f_heur)*(1-f_rep)*(1-f_block)")).as("in4"),
      sum(expr("(1-f_heur)*(1-f_rep)*(1-f_block) * f_ppl")).as("k4"),
      sum(expr("(1-f_heur)*(1-f_rep)*(1-f_block)*(1-f_ppl)")).as("in5"),
      sum(expr("(1-f_heur)*(1-f_rep)*(1-f_block)*(1-f_ppl) * f_clf")).as("k5"),
      sum(expr("f_heur*(1-f_rep)*(1-f_block)*(1-f_ppl)*(1-f_clf)")).as("s1"),
      sum(expr("(1-f_heur)*f_rep*(1-f_block)*(1-f_ppl)*(1-f_clf)")).as("s2"),
      sum(expr("(1-f_heur)*(1-f_rep)*f_block*(1-f_ppl)*(1-f_clf)")).as("s3"),
      sum(expr("(1-f_heur)*(1-f_rep)*(1-f_block)*f_ppl*(1-f_clf)")).as("s4"),
      sum(expr("(1-f_heur)*(1-f_rep)*(1-f_block)*(1-f_ppl)*f_clf")).as("s5"))
    .selectExpr(
      """stack(5,
        |  CAST(1 AS BIGINT), 'heur',  n,   k1, n - k1,   s1,
        |  CAST(2 AS BIGINT), 'rep',   in2, k2, in2 - k2, s2,
        |  CAST(3 AS BIGINT), 'block', in3, k3, in3 - k3, s3,
        |  CAST(4 AS BIGINT), 'ppl',   in4, k4, in4 - k4, s4,
        |  CAST(5 AS BIGINT), 'clf',   in5, k5, in5 - k5, s5
        |) AS (stage_no, stage, n_in, n_killed, n_out, solo_kills)"""
        .stripMargin)

  private val b257 = entry(
    "b257_ensemble_funnel",
    s"""WITH $flagCtesDuck,
       |ens_tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(f_heur) AS BIGINT) AS k1,
       |    CAST(sum(1 - f_heur) AS BIGINT) AS in2,
       |    CAST(sum((1-f_heur) * f_rep) AS BIGINT) AS k2,
       |    CAST(sum((1-f_heur)*(1-f_rep)) AS BIGINT) AS in3,
       |    CAST(sum((1-f_heur)*(1-f_rep) * f_block) AS BIGINT) AS k3,
       |    CAST(sum((1-f_heur)*(1-f_rep)*(1-f_block)) AS BIGINT) AS in4,
       |    CAST(sum((1-f_heur)*(1-f_rep)*(1-f_block) * f_ppl) AS BIGINT) AS k4,
       |    CAST(sum((1-f_heur)*(1-f_rep)*(1-f_block)*(1-f_ppl)) AS BIGINT)
       |      AS in5,
       |    CAST(sum((1-f_heur)*(1-f_rep)*(1-f_block)*(1-f_ppl) * f_clf)
       |      AS BIGINT) AS k5,
       |    CAST(sum(f_heur*(1-f_rep)*(1-f_block)*(1-f_ppl)*(1-f_clf))
       |      AS BIGINT) AS s1,
       |    CAST(sum((1-f_heur)*f_rep*(1-f_block)*(1-f_ppl)*(1-f_clf))
       |      AS BIGINT) AS s2,
       |    CAST(sum((1-f_heur)*(1-f_rep)*f_block*(1-f_ppl)*(1-f_clf))
       |      AS BIGINT) AS s3,
       |    CAST(sum((1-f_heur)*(1-f_rep)*(1-f_block)*f_ppl*(1-f_clf))
       |      AS BIGINT) AS s4,
       |    CAST(sum((1-f_heur)*(1-f_rep)*(1-f_block)*(1-f_ppl)*f_clf)
       |      AS BIGINT) AS s5
       |  FROM ens_flags)
       |SELECT CAST(1 AS BIGINT) AS stage_no, 'heur' AS stage, n AS n_in,
       |       k1 AS n_killed, n - k1 AS n_out, s1 AS solo_kills FROM ens_tot
       |UNION ALL SELECT 2, 'rep', in2, k2, in2 - k2, s2 FROM ens_tot
       |UNION ALL SELECT 3, 'block', in3, k3, in3 - k3, s3 FROM ens_tot
       |UNION ALL SELECT 4, 'ppl', in4, k4, in4 - k4, s4 FROM ens_tot
       |UNION ALL SELECT 5, 'clf', in5, k5, in5 - k5, s5 FROM ens_tot
       |ORDER BY stage_no""".stripMargin,
    bench = true) { (s, d) =>
    funnelTable(Tables.documents(s, d)).orderBy("stage_no")
  }

  val entries: Seq[Entry] = Seq(b256, b257)
}
