package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.QueryScope
import graft.sources.Tables

/** B243 — learned quality-classifier inference over the documents table:
  * the frozen hashed-ngram logistic scorer (see
  * [[graft.functions.QualityScoreExpression]] for the model and the
  * arithmetic contract) applied as a MAP-SIDE gate — the pass CCNet,
  * GPT-3 and every production corpus pipeline runs between heuristic
  * cleaning (b45_quality/b73/b94's gates) and dedup.
  *
  * Scale posture (100 TB): the score is one native codegen expression
  * inside the scan's projection and the threshold is a Filter directly
  * above it — ZERO shuffles before the gate (spec-asserted: the ungated
  * [[QualityClassifier.scored]] plan contains no Exchange at all), so the
  * classifier runs at full scan bandwidth on every executor and the
  * corpus never moves for it. The only exchange in the entry is the
  * presentation ORDER BY after the gate. A trained model swaps the
  * weight function for a broadcast table lookup; the plan shape is
  * unchanged. */
object QualityClassifier {

  /** (doc_id, score, kept) for every document — no gate, no exchange;
    * the b94-composable building block. */
  def scored(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
      expr("quality_score(text)").as("score"))
  }

  private def wexprDuck(salted: String): String =
    s"((((${Winnowing.polyFoldDuck(salted)} % 4096) * 2654435761)" +
      " % 2147483648) % 2001) - 1000"

  /** The score CTE chain shared VERBATIM by B243's gate, B250's
    * calibration, and the B256/B257 quality ensemble (`qc_`-prefixed, no
    * leading WITH — the b94 composition convention): the salted codepoint
    * fold per unigram and per bigram of the FILTERED token list, the
    * scrambled centered weight, list_sum (empty lists coalesce to 0 —
    * DuckDB's list_sum of [] is NULL where Spark's aggregate init is 0).
    * `qc_feats` carries (doc_id, n_tok, score). */
  private[graft] val scoreCtesDuck: String =
    s"""qc_toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '')
       |           AS w
       |  FROM documents),
       |qc_feats AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok,
       |    coalesce(list_sum(list_transform(w,
       |      t -> ${wexprDuck("'qc:' || t")})), 0) +
       |    coalesce(list_sum(list_transform(
       |      list_transform(generate_series(1, len(w) - 1),
       |                     i -> w[i] || ' ' || w[i+1]),
       |      t -> ${wexprDuck("'qc2:' || t")})), 0) AS score
       |  FROM qc_toks)""".stripMargin

  /** B243's oracle — hash → dot → threshold in pure SQL. */
  private[graft] val qualityOracleSql: String =
    s"WITH $scoreCtesDuck" + """
       |SELECT doc_id, CAST(score AS BIGINT) AS score
       |FROM qc_feats WHERE score > 0 ORDER BY doc_id""".stripMargin

  private val b243 = entry(
    "b243_quality_classifier", qualityOracleSql, bench = true) { (s, d) =>
    scored(Tables.documents(s, d).select(col("doc_id"), col("text")))
      .filter(col("score") > 0)
      .orderBy("doc_id")
  }

  // ---- B245: Gopher repetition signals ---------------------------------

  /** Keep thresholds (basis points) for the B245 gate — sized against the
    * measured fixture distributions so the gate binds without degenerating
    * (top2 spans 125-1428 bp with median ~322; dup2 coverage spans
    * 384-4736 on the 68% of docs that have any repeated 2-gram; the
    * joint gate keeps ~86% at every SF). Gopher's published character-
    * fraction thresholds (0.20/0.18/0.16) translate loosely to the token
    * domain; the CONTRACT is the rule shape, the constants are corpus
    * knobs. */
  val Top2MaxBp = 800L
  val Top3MaxBp = 800L
  val Dup2CovMaxBp = 2500L

  /** B245 report: per doc, the exact repetition fractions and the Gopher
    * keep flag — a REPORT, not a filter, so downstream pipelines choose
    * the bite (the b239 diagnostic convention). Zero exchanges before the
    * presentation sort (the B243 posture, spec-asserted). */
  def repetitionReport(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), expr("repetition_stats(text)").as("st"))
      .select(col("doc_id"),
        expr("st[0]").as("n_tok"),
        expr("CAST(CASE WHEN st[0] >= 2 THEN st[1] * 10000 div (st[0] - 1)" +
          " ELSE 0 END AS BIGINT)").as("top2_bp"),
        expr("CAST(CASE WHEN st[0] >= 3 THEN st[2] * 10000 div (st[0] - 2)" +
          " ELSE 0 END AS BIGINT)").as("top3_bp"),
        expr("CAST(CASE WHEN st[0] >= 4 THEN st[3] * 10000 div (st[0] - 3)" +
          " ELSE 0 END AS BIGINT)").as("top4_bp"),
        expr("CAST(CASE WHEN st[0] >= 2 THEN st[4] * 10000 div st[0]" +
          " ELSE 0 END AS BIGINT)").as("dup2_cov_bp"))
      .withColumn("kept",
        expr(s"CAST(top2_bp <= $Top2MaxBp AND top3_bp <= $Top3MaxBp" +
          s" AND dup2_cov_bp <= $Dup2CovMaxBp AS BIGINT)"))
  }

  /** The B245 CTE chain, `rep_`-prefixed for verbatim chaining by the
    * B256/B257 ensemble oracle; ends in `rep_f` — the full per-doc stats
    * relation INCLUDING the Gopher keep flag. */
  private[graft] val repCtesDuck: String =
    s"""rep_dw AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '')
       |           AS w
       |  FROM documents),
       |rep_base AS (SELECT doc_id, len(w) AS n FROM rep_dw),
       |rep_occ2 AS (
       |  SELECT doc_id, i AS pos, array_to_string(w[i:i+1], ' ') AS g
       |  FROM rep_dw, unnest(generate_series(1, len(w) - 1)) AS u(i)
       |  WHERE len(w) >= 2),
       |rep_m2 AS (SELECT doc_id, max(c) AS mx FROM (
       |  SELECT doc_id, g, count(*) AS c FROM rep_occ2 GROUP BY 1, 2) GROUP BY 1),
       |rep_g3 AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
       |    i -> array_to_string(w[i:i+2], ' '))) AS g
       |  FROM rep_dw WHERE len(w) >= 3),
       |rep_m3 AS (SELECT doc_id, max(c) AS mx FROM (
       |  SELECT doc_id, g, count(*) AS c FROM rep_g3 GROUP BY 1, 2) GROUP BY 1),
       |rep_g4 AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 3),
       |    i -> array_to_string(w[i:i+3], ' '))) AS g
       |  FROM rep_dw WHERE len(w) >= 4),
       |rep_m4 AS (SELECT doc_id, max(c) AS mx FROM (
       |  SELECT doc_id, g, count(*) AS c FROM rep_g4 GROUP BY 1, 2) GROUP BY 1),
       |rep_c2 AS (SELECT doc_id, g FROM rep_occ2 GROUP BY doc_id, g
       |       HAVING count(*) >= 2),
       |rep_cov AS (
       |  SELECT o.doc_id, count(DISTINCT p) AS cv
       |  FROM rep_occ2 o JOIN rep_c2 USING (doc_id, g),
       |       unnest(generate_series(o.pos, o.pos + 1)) AS q(p)
       |  GROUP BY o.doc_id),
       |rep_f AS (
       |  SELECT doc_id, n_tok, top2_bp, top3_bp, top4_bp, dup2_cov_bp,
       |         CAST(top2_bp <= $Top2MaxBp AND top3_bp <= $Top3MaxBp
       |              AND dup2_cov_bp <= $Dup2CovMaxBp AS BIGINT) AS kept
       |  FROM (
       |  SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tok,
       |    CAST(CASE WHEN b.n >= 2 THEN coalesce(m2.mx, 0) * 10000 // (b.n - 1)
       |         ELSE 0 END AS BIGINT) AS top2_bp,
       |    CAST(CASE WHEN b.n >= 3 THEN coalesce(m3.mx, 0) * 10000 // (b.n - 2)
       |         ELSE 0 END AS BIGINT) AS top3_bp,
       |    CAST(CASE WHEN b.n >= 4 THEN coalesce(m4.mx, 0) * 10000 // (b.n - 3)
       |         ELSE 0 END AS BIGINT) AS top4_bp,
       |    CAST(CASE WHEN b.n >= 2 THEN coalesce(cov.cv, 0) * 10000 // b.n
       |         ELSE 0 END AS BIGINT) AS dup2_cov_bp
       |  FROM rep_base b
       |  LEFT JOIN rep_m2 m2 USING (doc_id) LEFT JOIN rep_m3 m3 USING (doc_id)
       |  LEFT JOIN rep_m4 m4 USING (doc_id) LEFT JOIN rep_cov cov USING (doc_id)))""".stripMargin

  private val b245 = entry(
    "b245_repetition_filter",
    s"""WITH $repCtesDuck
       |SELECT doc_id, n_tok, top2_bp, top3_bp, top4_bp, dup2_cov_bp, kept
       |FROM rep_f ORDER BY doc_id""".stripMargin, bench = true) { (s, d) =>
    repetitionReport(Tables.documents(s, d).select(col("doc_id"), col("text")))
      .orderBy("doc_id")
  }

  // ---- B250: score calibration deciles ---------------------------------

  /** B250 — QUALITY-SCORE CALIBRATION (the ML-ops artifact a classifier
    * gate ships with: score deciles vs observable covariates, so a model
    * swap is auditable against "decile 1 used to mean short spammy docs"):
    * all documents ranked by (score, doc_id) into ANSI deciles, each
    * decile reporting n_docs, exact score range and token mass/mean.
    *
    * The decile rank runs over the CORPUS (not a dimension), so it uses
    * [[graft.operators.OrderStats.withGlobalRank]]'s two-phase scan —
    * the first corpus-scale consumer of the r15 rewrite machinery —
    * bucketed by score div 4096 (scores are a ±|doc|·10³-bounded random
    * walk, so non-empty buckets stay O(range/4096); trunc division is
    * monotone over negatives, the OrderStats contract) and the
    * closed-form ntile; no SinglePartition anywhere (spec-asserted).
    * The oracle keeps the naive ntile window over the SHARED score CTEs. */
  def calibrationDeciles(docs: DataFrame): DataFrame = {
    val sc = docs.select(col("doc_id"),
      expr("CAST(size(filter(split(text, ' '), t -> t <> '')) AS BIGINT)")
        .as("n_tok"),
      expr("quality_score(text)").as("score"))
    val (ranked, n, _) = graft.operators.OrderStats.withGlobalRank(sc,
      expr("score div 4096"), Seq(col("score"), col("doc_id")), "_rn")
    ranked
      .withColumn("decile",
        graft.operators.OrderStats.ntileFromRank("_rn", n, 10))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        min("score").as("score_min"), max("score").as("score_max"),
        sum("n_tok").as("tok_sum"))
      .withColumn("tok_mean", expr("tok_sum div n_docs"))
      .orderBy("decile")
  }

  private val b250 = entry(
    "b250_score_calibration",
    s"WITH $scoreCtesDuck" + """,
       |dec AS (
       |  SELECT doc_id, n_tok, CAST(score AS BIGINT) AS score,
       |         CAST(ntile(10) OVER (ORDER BY score, doc_id) AS BIGINT)
       |           AS decile
       |  FROM qc_feats)
       |SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
       |       min(score) AS score_min, max(score) AS score_max,
       |       CAST(sum(n_tok) AS BIGINT) AS tok_sum,
       |       CAST(sum(n_tok) // count(*) AS BIGINT) AS tok_mean
       |FROM dec GROUP BY decile ORDER BY decile""".stripMargin,
    bench = true) { (s, d) =>
    calibrationDeciles(Tables.documents(s, d).select(col("doc_id"), col("text")))
  }

  // ---- B265: threshold-sensitivity sweep --------------------------------

  /** The sweep grid — symmetric around the b243 gate's frozen θ = 0,
    * spanning the score distribution's bulk (scores are a ±|doc|·10³-
    * bounded random walk; ±2000 covers the decision-relevant range). */
  val SweepThresholds: Seq[Long] =
    Seq(-2000L, -1500L, -1000L, -500L, 0L, 500L, 1000L, 1500L, 2000L)

  /** B265 — CLASSIFIER THRESHOLD SWEEP (the gate-owner's knob-setting
    * artifact: before freezing θ, production sweeps the kept-mass curve —
    * "how many documents/tokens survive at each candidate threshold" —
    * the integer-exact skeleton of a precision/yield tradeoff table; the
    * B250 calibration deciles answer "what does a score MEAN", this
    * answers "what does a θ COST"). Per grid threshold: kept docs, kept
    * share (bp), kept tokens, kept token share (bp). The θ = 0 row is by
    * construction the b243 gate's own population — pinned in spec.
    *
    * Scale posture: ONE map-side score projection + ONE scalar aggregate
    * carrying 2·|grid| conditional sums (map-combines like any other
    * aggregate; the grid never multiplies the corpus rows — the oracle's
    * CROSS JOIN spelling is presentation, the engine's is conditional
    * sums stacked from a single row). */
  private val b265 = entry(
    "b265_classifier_threshold_sweep", {
      val gridVals = SweepThresholds.map(t => s"($t)").mkString(", ")
      s"WITH $scoreCtesDuck" + s""",
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |               CAST(sum(n_tok) AS BIGINT) AS t FROM qc_feats),
       |g(thr) AS (VALUES $gridVals),
       |k AS (
       |  SELECT g.thr,
       |         CAST(sum(CASE WHEN score > g.thr THEN 1 ELSE 0 END)
       |           AS BIGINT) AS kept_docs,
       |         CAST(sum(CASE WHEN score > g.thr THEN n_tok ELSE 0 END)
       |           AS BIGINT) AS kept_tokens
       |  FROM qc_feats CROSS JOIN g GROUP BY g.thr)
       |SELECT CAST(thr AS BIGINT) AS thr, kept_docs,
       |       kept_docs * 10000 // (SELECT n FROM tot) AS kept_doc_bp,
       |       kept_tokens,
       |       kept_tokens * 10000 // (SELECT t FROM tot) AS kept_token_bp
       |FROM k ORDER BY thr""".stripMargin
    }, bench = true) { (s, d) =>
    val sc = Tables.documents(s, d).select(
      expr("quality_score(text)").as("score"),
      expr("CAST(size(filter(split(text, ' '), t -> t <> '')) AS BIGINT)")
        .as("n_tok"))
    val aggs = Seq(count(lit(1)).as("n"), sum("n_tok").as("t")) ++
      SweepThresholds.zipWithIndex.flatMap { case (th, i) => Seq(
        sum(when(col("score") > th, 1L).otherwise(0L)).as(s"k$i"),
        sum(when(col("score") > th, col("n_tok")).otherwise(0L)).as(s"t$i"))
      }
    val stackArgs = SweepThresholds.zipWithIndex.map { case (th, i) =>
      s"CAST($th AS BIGINT), k$i, t$i"
    }.mkString(", ")
    sc.agg(aggs.head, aggs.tail: _*)
      .selectExpr("n", "t",
        s"stack(${SweepThresholds.size}, $stackArgs)" +
          " AS (thr, kept_docs, kept_tokens)")
      .select(col("thr"), col("kept_docs"),
        expr("kept_docs * 10000 div n").as("kept_doc_bp"),
        col("kept_tokens"),
        expr("kept_tokens * 10000 div t").as("kept_token_bp"))
      .orderBy("thr")
  }

  /** B297 — QUALITY-SCORE CALIBRATION AGAINST HYGIENE SURVIVAL: does the
    * quality score PREDICT whether a document survives the release
    * hygiene chain, and what is the calibrated survival propensity per
    * score decile? The composition a curation team runs before using a
    * quality score to pre-filter ingest (pre-filtering on an
    * uncalibrated score silently shifts the release's composition):
    * b250's global score deciles (OrderStats two-phase rank — no
    * SinglePartition over the corpus) × b94's hygiene release membership
    * as the outcome × B296's minimax isotonic fit (exactly floor(PAV·10⁴),
    * the floor-commutes argument) pooling the per-decile survival rates
    * monotone. The honest reading of the output matters as much as the
    * fit: where the raw rates are flat-noisy (survival is dominated by
    * dedup/contamination, not the lexical score), the PAV pools wide
    * blocks — the audit SHOWS non-predictiveness rather than hiding it
    * (the b289-MISFIT honesty convention).
    *
    * Scale posture: the score pass and the hygiene chain are their
    * entries' own (one scan + gram-keyed shuffles); deciles via the
    * bucketed two-phase rank; everything after the 10-row decile rollup
    * is the B296 bounded-interval machinery. */
  private val b297 = entry(
    "b297_quality_calibration",
    s"WITH $scoreCtesDuck,\n" +
      graft.llm.CleanPipeline.hygieneCtesDuck() + s""",
       |dec AS (
       |  SELECT doc_id,
       |         CAST(ntile(10) OVER (ORDER BY score, doc_id) AS BIGINT)
       |           AS b
       |  FROM qc_feats),
       |pd AS (
       |  SELECT d.b,
       |         CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS y
       |  FROM dec d
       |  LEFT JOIN (SELECT DISTINCT doc_id FROM deduped) r USING (doc_id)),
       |bk AS MATERIALIZED (
       |  SELECT b, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(y) AS BIGINT) AS pos
       |  FROM pd GROUP BY b),
       |${graft.operators.ChangepointOps.isotonicCtesDuck("bk")}
       |SELECT bk.b AS decile, bk.n, bk.pos,
       |       CAST(bk.pos * 10000 // bk.n AS BIGINT) AS raw_bp,
       |       cal.cal_bp
       |FROM bk JOIN cal ON cal.i = bk.b
       |ORDER BY decile""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val sc = docs.select(col("doc_id"),
      expr("quality_score(text)").as("score"))
    val (ranked, n, _) = graft.operators.OrderStats.withGlobalRank(sc,
      expr("score div 4096"), Seq(col("score"), col("doc_id")), "_rn")
    val dec = ranked
      .withColumn("b", graft.operators.OrderStats.ntileFromRank("_rn", n, 10))
      .select("doc_id", "b")
    val rel = graft.llm.CleanPipeline.hygieneRelease(docs)
      .select(col("doc_id"), lit(1L).as("y1"))
    // 10-row rollup fans out to the fit joins
    val bk = QueryScope.materialize("bk")(dec.join(rel, Seq("doc_id"), "left")
      .select(col("b"), coalesce(col("y1"), lit(0L)).as("y"))
      .groupBy("b").agg(count(lit(1)).as("n"), sum("y").as("pos")))
    bk.join(graft.operators.ChangepointOps.isotonicCal(bk),
        col("b") === col("i"))
      .select(col("b").as("decile"), col("n"), col("pos"),
        expr("CAST(pos * 10000 div n AS BIGINT)").as("raw_bp"),
        col("cal_bp"))
      .orderBy("decile")
  }

  val entries: Seq[Entry] = Seq(b243, b245, b250, b265, b297)
}
