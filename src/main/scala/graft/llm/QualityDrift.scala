package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.QueryScope
import graft.sources.Tables

/** B264 — QUALITY-SIGNAL DRIFT MONITOR (b192's Deequ-style profile-delta
  * rule applied to the DOCUMENT quality surface): profile two ingest
  * snapshots of the corpus (A = odd doc_ids, "yesterday"; B = even,
  * "today") on the ensemble's own signals — repetition keep rate,
  * classifier keep rate, heuristic pass rate (all bp), and mean token
  * count — and flag the signals whose delta crosses the per-signal rule.
  * This is the model-ops monitor a quality gate ships with: a filter
  * config that was right yesterday silently rots when the INPUT drifts,
  * and the gate's own keep rates are the canary.
  *
  * Two legs (the b258 convention): `clean` compares the raw halves (all
  * four signals must stay quiet — the split is exchangeable), and
  * `planted` injects a real incident class into B — every 10th doc's
  * body DOUBLED (`text || ' ' || text`, the upstream double-send bug).
  * Measured consequences, pinned by the rules: the repetition keep rate
  * collapses (every bigram now repeats → dup2 coverage saturates,
  * −16..−18pp), the heuristic pass rate drops (doubled n_tok crosses
  * MaxTok, −9..−13pp), mean tokens inflate past the ratio window — and
  * the CLASSIFIER rate stays quiet (doubling a text roughly doubles its
  * score, preserving the sign), the negative control proving the monitor
  * doesn't fire on everything.
  *
  * Rules: rate signals drift at |Δ| > [[RateDeltaBp]]; the volume signal
  * at ratio outside [[NtokRatioLoBp]]..[[NtokRatioHiBp]] (the b192
  * null-rate / NDV-ratio rule pair, re-grounded).
  *
  * Integer-exact: all four signals are BIGINT (bp rates by floor
  * division, mean tokens by floor division); the flag expressions reuse
  * [[QualityEnsemble.withFusedFlags]] — the SAME codegen projection the
  * gate itself runs, so the monitor can never disagree with the gate
  * about what a signal means.
  *
  * Scale posture: each profile is ONE map-side flag projection + one
  * scalar aggregate (the sanctioned O(1)-row class); in production A's
  * profile is yesterday's stored artifact (the b189 posture), so
  * monitoring costs one pass over today's ingest only. */
object QualityDrift {

  /** Rate-signal drift threshold: |B − A| > 500 bp (5pp). */
  val RateDeltaBp = 500L

  /** Volume-signal window: mean-token ratio B/A outside [0.9, 1.1]. */
  val NtokRatioLoBp = 9000L
  val NtokRatioHiBp = 11000L

  /** One-row profile (n, rep_keep_bp, clf_keep_bp, heur_pass_bp,
    * mean_ntok) over any (doc_id, text, n_chars) snapshot. */
  private[graft] def profile(snap: DataFrame): DataFrame =
    profileFinish(profileAgg(snap))

  /** The profile's aggregate half — stream-safe (stateless fused-flag
    * projection + one global aggregate), so B274 can run it in complete
    * mode on the ingest stream; the division tail runs post-
    * materialization via [[profileFinish]]. */
  private[graft] def profileAgg(snap: DataFrame): DataFrame =
    QualityEnsemble.withFusedFlags(snap)
      .agg(count(lit(1)).as("n"),
        sum(expr("1 - f_rep")).as("rk"),
        sum(expr("1 - f_clf")).as("ck"),
        sum(expr("1 - f_heur")).as("hp"),
        sum("n_tok").as("toks"))

  private[graft] def profileFinish(sums: DataFrame): DataFrame =
    sums.select(
      expr("rk * 10000 div n").as("rep_keep_bp"),
      expr("ck * 10000 div n").as("clf_keep_bp"),
      expr("hp * 10000 div n").as("heur_pass_bp"),
      expr("toks div n").as("mean_ntok"))

  /** The 4-signal drift rows for one (A, B) snapshot pair. */
  private[graft] def driftRows(a: DataFrame, b: DataFrame, leg: String): DataFrame = {
    val pa = a.select(col("rep_keep_bp").as("a_rep"),
      col("clf_keep_bp").as("a_clf"), col("heur_pass_bp").as("a_heur"),
      col("mean_ntok").as("a_tok"))
    val pb = b.select(col("rep_keep_bp").as("b_rep"),
      col("clf_keep_bp").as("b_clf"), col("heur_pass_bp").as("b_heur"),
      col("mean_ntok").as("b_tok"))
    pa.crossJoin(broadcast(pb)).selectExpr(
      s"""stack(4,
         |  'clf_keep_bp',  a_clf,  b_clf,  b_clf - a_clf,
         |    CAST(abs(b_clf - a_clf) > $RateDeltaBp AS BIGINT),
         |  'heur_pass_bp', a_heur, b_heur, b_heur - a_heur,
         |    CAST(abs(b_heur - a_heur) > $RateDeltaBp AS BIGINT),
         |  'mean_ntok',    a_tok,  b_tok,  b_tok * 10000 div a_tok,
         |    CAST(b_tok * 10000 div a_tok < $NtokRatioLoBp
         |      OR b_tok * 10000 div a_tok > $NtokRatioHiBp AS BIGINT),
         |  'rep_keep_bp',  a_rep,  b_rep,  b_rep - a_rep,
         |    CAST(abs(b_rep - a_rep) > $RateDeltaBp AS BIGINT)
         |) AS (signal, a_val, b_val, delta_bp, drifted)""".stripMargin)
      .select(lit(leg).as("leg"), col("signal"), col("a_val"),
        col("b_val"), col("delta_bp"), col("drifted"))
  }

  // ---- the DuckDB profile over an arbitrary snapshot SQL ---------------

  private def wexprDuck(salted: String): String =
    s"((((${Winnowing.polyFoldDuck(salted)} % 4096) * 2654435761)" +
      " % 2147483648) % 2001) - 1000"

  /** Mirror of [[profile]] in DuckDB SQL over `snap` — the same flag
    * spellings as the qc_/rep_ oracle chains, anchored on a snapshot
    * relation instead of `documents` (the chains themselves are
    * table-anchored; the hash pins the two spellings equal). */
  private def profSqlDuck(snapSql: String): String = {
    import QualityClassifier.{Top2MaxBp, Top3MaxBp, Dup2CovMaxBp}
    import QualityEnsemble.{MinTok, MaxTok, DensMinBp, DensMaxBp}
    s"""(WITH snap AS ($snapSql),
       |w AS (SELECT doc_id, n_chars,
       |        list_filter(string_split(text, ' '), t -> t <> '') AS w
       |      FROM snap),
       |qc AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok,
       |  coalesce(list_sum(list_transform(w,
       |    t -> ${wexprDuck("'qc:' || t")})), 0) +
       |  coalesce(list_sum(list_transform(
       |    list_transform(generate_series(1, len(w) - 1),
       |                   i -> w[i] || ' ' || w[i+1]),
       |    t -> ${wexprDuck("'qc2:' || t")})), 0) AS score
       |  FROM w),
       |occ2 AS (SELECT doc_id, i AS pos, array_to_string(w[i:i+1], ' ') AS g
       |         FROM w, unnest(generate_series(1, len(w) - 1)) AS u(i)
       |         WHERE len(w) >= 2),
       |m2 AS (SELECT doc_id, max(c) AS mx FROM (
       |  SELECT doc_id, g, count(*) AS c FROM occ2 GROUP BY 1, 2) GROUP BY 1),
       |g3 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
       |         i -> array_to_string(w[i:i+2], ' '))) AS g
       |       FROM w WHERE len(w) >= 3),
       |m3 AS (SELECT doc_id, max(c) AS mx FROM (
       |  SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY 1),
       |c2 AS (SELECT doc_id, g FROM occ2 GROUP BY doc_id, g
       |       HAVING count(*) >= 2),
       |cov AS (SELECT o.doc_id, count(DISTINCT p) AS cv
       |        FROM occ2 o JOIN c2 USING (doc_id, g),
       |             unnest(generate_series(o.pos, o.pos + 1)) AS q(p)
       |        GROUP BY o.doc_id),
       |f AS (SELECT q.doc_id, q.n_tok, q.score, b.n_chars,
       |  CASE WHEN q.n_tok >= 2 THEN coalesce(m2.mx, 0) * 10000 // (q.n_tok - 1)
       |       ELSE 0 END AS top2,
       |  CASE WHEN q.n_tok >= 3 THEN coalesce(m3.mx, 0) * 10000 // (q.n_tok - 2)
       |       ELSE 0 END AS top3,
       |  CASE WHEN q.n_tok >= 2 THEN coalesce(cov.cv, 0) * 10000 // q.n_tok
       |       ELSE 0 END AS d2
       |  FROM qc q JOIN (SELECT doc_id, n_chars FROM w) b USING (doc_id)
       |  LEFT JOIN m2 USING (doc_id) LEFT JOIN m3 USING (doc_id)
       |  LEFT JOIN cov USING (doc_id))
       |SELECT
       |  sum(CASE WHEN top2 <= $Top2MaxBp AND top3 <= $Top3MaxBp
       |             AND d2 <= $Dup2CovMaxBp THEN 1 ELSE 0 END)
       |    * 10000 // count(*) AS rep_keep_bp,
       |  sum(CASE WHEN score > 0 THEN 1 ELSE 0 END)
       |    * 10000 // count(*) AS clf_keep_bp,
       |  sum(CASE WHEN n_tok >= $MinTok AND n_tok <= $MaxTok
       |             AND n_tok * 10000 // n_chars
       |                 BETWEEN $DensMinBp AND $DensMaxBp
       |           THEN 1 ELSE 0 END) * 10000 // count(*) AS heur_pass_bp,
       |  sum(n_tok) // count(*) AS mean_ntok
       |FROM f)""".stripMargin
  }

  private def legSqlDuck(leg: String, pa: String, pb: String): String =
    s"""  SELECT '$leg' AS leg, s.signal,
       |         CAST(s.a_val AS BIGINT) AS a_val,
       |         CAST(s.b_val AS BIGINT) AS b_val,
       |         CAST(s.delta_bp AS BIGINT) AS delta_bp,
       |         CAST(s.drifted AS BIGINT) AS drifted
       |  FROM (
       |    SELECT 'clf_keep_bp' AS signal, a.clf_keep_bp AS a_val,
       |           b.clf_keep_bp AS b_val,
       |           b.clf_keep_bp - a.clf_keep_bp AS delta_bp,
       |           abs(b.clf_keep_bp - a.clf_keep_bp) > $RateDeltaBp AS drifted
       |    FROM $pa a CROSS JOIN $pb b
       |    UNION ALL
       |    SELECT 'heur_pass_bp', a.heur_pass_bp, b.heur_pass_bp,
       |           b.heur_pass_bp - a.heur_pass_bp,
       |           abs(b.heur_pass_bp - a.heur_pass_bp) > $RateDeltaBp
       |    FROM $pa a CROSS JOIN $pb b
       |    UNION ALL
       |    SELECT 'mean_ntok', a.mean_ntok, b.mean_ntok,
       |           b.mean_ntok * 10000 // a.mean_ntok,
       |           b.mean_ntok * 10000 // a.mean_ntok < $NtokRatioLoBp
       |             OR b.mean_ntok * 10000 // a.mean_ntok > $NtokRatioHiBp
       |    FROM $pa a CROSS JOIN $pb b
       |    UNION ALL
       |    SELECT 'rep_keep_bp', a.rep_keep_bp, b.rep_keep_bp,
       |           b.rep_keep_bp - a.rep_keep_bp,
       |           abs(b.rep_keep_bp - a.rep_keep_bp) > $RateDeltaBp
       |    FROM $pa a CROSS JOIN $pb b) s""".stripMargin

  private val ASql = "SELECT doc_id, text, n_chars FROM documents" +
    " WHERE doc_id % 2 = 1"
  private val BCleanSql = "SELECT doc_id, text, n_chars FROM documents" +
    " WHERE doc_id % 2 = 0"
  private val BPlantSql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 10 = 0 THEN text || ' ' || text ELSE text END
      |    AS text,
      |  CASE WHEN doc_id % 10 = 0 THEN 2 * n_chars + 1 ELSE n_chars END
      |    AS n_chars
      |FROM documents WHERE doc_id % 2 = 0""".stripMargin

  /** B264's oracle — shared VERBATIM by B274's streamed twin (the
    * b214/b224 convention). */
  private[graft] val driftOracleSql: String =
    s"""WITH pa AS ${profSqlDuck(ASql)},
       |pbc AS ${profSqlDuck(BCleanSql)},
       |pbp AS ${profSqlDuck(BPlantSql)},
       |legs AS (
       |${legSqlDuck("clean", "pa", "pbc")}
       |  UNION ALL
       |${legSqlDuck("planted", "pa", "pbp")})
       |SELECT leg, signal, a_val, b_val, delta_bp, drifted
       |FROM legs ORDER BY leg, signal""".stripMargin

  private val b264 = entry(
    "b264_quality_drift_monitor", driftOracleSql, bench = true) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("n_chars"))
    val a = docs.filter(col("doc_id") % 2 === 1)
    val bClean = docs.filter(col("doc_id") % 2 === 0)
    val bPlant = bClean.select(col("doc_id"),
      expr("CASE WHEN doc_id % 10 = 0 THEN text || ' ' || text" +
        " ELSE text END").as("text"),
      expr("CASE WHEN doc_id % 10 = 0 THEN 2 * n_chars + 1" +
        " ELSE n_chars END").as("n_chars"))
    val pa = QueryScope.materialize("pa")(profile(a)) // feeds both legs once
    driftRows(pa, profile(bClean), "clean")
      .unionByName(driftRows(pa, profile(bPlant), "planted"))
      .orderBy("leg", "signal")
  }

  val entries: Seq[Entry] = Seq(b264)
}
