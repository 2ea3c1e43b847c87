package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.QueryScope
import graft.sources.Tables

/** B276 — CUSUM LEVEL-SHIFT DETECTION (Page, Biometrika 1954 — the
  * classic sequential changepoint detector; the volume-monitoring twin of
  * B264's rate-drift rules: drift monitors compare two SNAPSHOTS, CUSUM
  * watches ONE series and localizes WHEN the level moved): over the
  * daily event-count series, the one-sided cumulative sums
  *
  *   S⁺_t = max(0, S⁺_{t−1} + (x_t − μ − k)),   S⁻ symmetric,
  *
  * with target μ = mean daily count (integer floor), allowance
  * k = μ div 10 and decision threshold h = 2μ — all RELATIVE to the
  * measured level so one spelling holds across SFs (measured: clean max
  * excursion ≤ 0.55μ at every SF; planted shifts reach ≥ 3.6μ).
  *
  * The nonlinear max-recursion is NOT window-expressible directly; both
  * engines use the PREFIX-MIN IDENTITY instead:
  *
  *   S_t = P_t − min(0, min_{j≤t} P_j),  P = running sum of (±(x−μ) − k)
  *
  * — two stacked windows over the bounded day rollup (the b273 shape).
  * CusumSpec pins the identity against the literal recursion on the
  * fixture and on adversarial series.
  *
  * Three legs (the b258/b264 planted convention): `clean` (no alarm in
  * either direction — the detector is quiet on the real series),
  * `shift_up` (counts DOUBLE from day [[PlantFromDay]] — the up alarm
  * fires, localized at/after the plant; the down side stays quiet) and
  * `shift_down` (counts halve — symmetric). Output per (leg, direction):
  * max excursion, first alarm day (−1 if none), alarm-day count.
  *
  * Integer-exact throughout: counts, floor-division μ/k/h, BIGINT sums.
  *
  * Scale posture: ONE map-combinable day aggregate over the fact table;
  * the leg × direction expansion and both windows run over the |days|
  * rollup (bounded — the b125 exception); μ broadcasts as a one-row
  * aggregate. */
object ChangepointOps {

  /** Allowance divisor: k = μ div 10 (half-width of the dead band). */
  val AllowanceDiv = 10L

  /** Decision threshold in target units: h = 2·μ. */
  val ThresholdMul = 2L

  /** Plant day: the level shifts from this day (day 21 of the 30-day
    * event horizon — day_id is datediff from 2024-01-01). */
  val PlantFromDay = 21L

  /** The b276 oracle — shared VERBATIM by the streamed twin b283 (the
    * b246/b248 twin convention). */
  private[graft] val cusumOracleSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
       |              AS BIGINT) AS day_id,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1),
       |st AS (SELECT sum(n) // count(*) AS mu,
       |              (sum(n) // count(*)) // $AllowanceDiv AS k,
       |              $ThresholdMul * (sum(n) // count(*)) AS h
       |       FROM daily),
       |series AS (
       |  SELECT l.leg, d.sign, day_id,
       |         CASE l.leg
       |           WHEN 'shift_up' THEN
       |             CASE WHEN day_id >= $PlantFromDay THEN n * 2 ELSE n END
       |           WHEN 'shift_down' THEN
       |             CASE WHEN day_id >= $PlantFromDay THEN n // 2 ELSE n END
       |           ELSE n END AS x
       |  FROM daily
       |  CROSS JOIN (VALUES ('clean'), ('shift_down'), ('shift_up')) l(leg)
       |  CROSS JOIN (VALUES (1), (-1)) d(sign)),
       |y AS (SELECT leg, sign, day_id, sign * (x - mu) - k AS y
       |      FROM series CROSS JOIN st),
       |p AS (SELECT leg, sign, day_id, y,
       |             sum(y) OVER (PARTITION BY leg, sign ORDER BY day_id
       |                          ROWS UNBOUNDED PRECEDING) AS p
       |      FROM y),
       |srel AS (
       |  SELECT leg, sign, day_id,
       |         p - least(0, min(p) OVER (PARTITION BY leg, sign
       |                                   ORDER BY day_id
       |                                   ROWS UNBOUNDED PRECEDING)) AS s
       |  FROM p)
       |SELECT leg, CAST(sign AS BIGINT) AS dir,
       |       CAST(max(s) AS BIGINT) AS max_s,
       |       CAST(coalesce(min(CASE WHEN s > h THEN day_id END), -1)
       |            AS BIGINT) AS first_alarm,
       |       CAST(sum(CASE WHEN s > h THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_alarm_days
       |FROM srel CROSS JOIN st
       |GROUP BY leg, sign ORDER BY leg, dir""".stripMargin

  /** The b276 tail over any (day_id, n) rollup — shared by the batch
    * entry and the streamed twin b283, so the two spellings cannot
    * drift (the b264/b274 shared-tail convention). */
  private[graft] def cusumFromDaily(daily: DataFrame): DataFrame = {
    val sp = daily.sparkSession
    import sp.implicits._
    import org.apache.spark.sql.expressions.Window
    val st = QueryScope.materialize("st")(daily.agg(
        expr("sum(n) div count(*)").as("mu"),
        expr("(sum(n) div count(*)) div " + AllowanceDiv).as("k"),
        expr(s"$ThresholdMul * (sum(n) div count(*))").as("h")))
    val legs = Seq("clean", "shift_down", "shift_up").toDF("leg")
    val dirs = Seq(1L, -1L).toDF("sign")
    val w = Window.partitionBy(col("leg"), col("sign"))
      .orderBy(col("day_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .crossJoin(broadcast(legs)).crossJoin(broadcast(dirs))
      .select(col("leg"), col("sign"), col("day_id"),
        expr(s"""CASE leg
                 |  WHEN 'shift_up' THEN
                 |    CASE WHEN day_id >= $PlantFromDay THEN n * 2 ELSE n END
                 |  WHEN 'shift_down' THEN
                 |    CASE WHEN day_id >= $PlantFromDay THEN n div 2 ELSE n END
                 |  ELSE n END""".stripMargin).as("x"))
      .crossJoin(broadcast(st))
      .withColumn("y", expr("sign * (x - mu) - k"))
      .withColumn("p", sum(col("y")).over(w))
      .withColumn("s",
        col("p") - least(lit(0L), min(col("p")).over(w)))
      .groupBy("leg", "sign")
      .agg(max(col("s")).cast("long").as("max_s"),
        coalesce(min(when(col("s") > col("h"), col("day_id"))), lit(-1L))
          .cast("long").as("first_alarm"),
        sum(when(col("s") > col("h"), 1L).otherwise(0L)).as("n_alarm_days"))
      .select(col("leg"), col("sign").cast("long").as("dir"),
        col("max_s"), col("first_alarm"), col("n_alarm_days"))
      .orderBy("leg", "dir")
  }

  private val b276 = entry("b276_cusum_changepoint", cusumOracleSql) {
    (s, d) =>
    cusumFromDaily(Tables.events(s, d)
      .groupBy(expr("CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01')" +
        " AS BIGINT)").as("day_id"))
      .agg(count(lit(1)).as("n")))
  }

  /** Seasonal period for the seasonal-naive forecaster: weekly. */
  val SeasonDays = 7L

  /** B277 — FORECAST BACKTEST (Hyndman & Athanasopoulos, "Forecasting:
    * Principles and Practice" §5.8 — the expanding-window backtest every
    * demand-forecast pipeline runs before trusting a model, scored
    * against the baselines any candidate must beat): over the daily
    * purchase-revenue series, three leakage-free one-step forecasters —
    * `naive` (yesterday), `snaive` (same weekday last week, the seasonal
    * baseline) and `mean` (expanding mean of all PRIOR days, integer
    * floor) — each evaluated on every day where all three are defined
    * (t ≥ [[SeasonDays]]), reporting per model the eval count, total and
    * mean absolute error in cents, and WINS (days where the model's
    * error ties the per-day minimum — ties credit every minimal model,
    * spelled identically in both engines).
    *
    * Leakage-freedom is structural: every forecast reads strictly
    * `1 PRECEDING`-bounded frames, so the backtest cannot peek at the
    * day it scores — the protocol property (b140's split-leakage rule,
    * time-series edition), pinned by ForecastSpec's JVM replay.
    *
    * Integer-exact: revenue in cents, MAE by floor division, win counts.
    *
    * Scale posture: ONE map-combinable day aggregate over purchases;
    * all forecast/error windows run over the |days| rollup (bounded —
    * the b125 exception); the model rollup is O(models). */
  /** The daily-purchase forecaster CTEs (daily -> f -> fc, fc = rows
    * where all three one-step forecasts are defined) — shared VERBATIM
    * by b277's backtest and b298's conformal audit so the forecasters
    * cannot drift between the two. */
  private[graft] val forecastCtesDuck: String =
    s"""daily AS (
       |  SELECT CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
       |              AS BIGINT) AS d,
       |         CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) AS cents
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |f AS (
       |  SELECT d, cents,
       |         lag(cents, 1) OVER (ORDER BY d) AS f_naive,
       |         lag(cents, $SeasonDays) OVER (ORDER BY d) AS f_snaive,
       |         sum(cents) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
       |                          PRECEDING AND 1 PRECEDING)
       |           // count(*) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
       |                             PRECEDING AND 1 PRECEDING) AS f_mean
       |  FROM daily),
       |fc AS (SELECT * FROM f WHERE f_snaive IS NOT NULL)""".stripMargin

  /** Spark twin of [[forecastCtesDuck]]: (d, cents, f_naive, f_snaive,
    * f_mean), checkpointed (bounded day rollup fanning out). */
  private[graft] def forecastFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01')" +
        " AS BIGINT)").as("d"))
      .agg(expr("CAST(sum(floor(value * 100 + 0.5)) AS BIGINT)").as("cents"))
    val ord = Window.orderBy(col("d"))
    val prior = ord.rowsBetween(Window.unboundedPreceding, -1)
    QueryScope.materialize("forecast")(daily
      .withColumn("f_naive", lag(col("cents"), 1).over(ord))
      .withColumn("f_snaive", lag(col("cents"), SeasonDays.toInt).over(ord))
      .withColumn("psum", sum(col("cents")).over(prior))
      .withColumn("pcnt", count(lit(1)).over(prior))
      .withColumn("f_mean", expr("psum div pcnt"))
      .filter(col("f_snaive").isNotNull)
      .select("d", "cents", "f_naive", "f_snaive", "f_mean"))
  }

  private val b277 = entry(
    "b277_forecast_backtest",
    s"""WITH $forecastCtesDuck,
       |e AS (
       |  SELECT d, abs(cents - f_naive) AS e_naive,
       |         abs(cents - f_snaive) AS e_snaive,
       |         abs(cents - f_mean) AS e_mean
       |  FROM fc),
       |em AS (SELECT *, least(e_naive, e_snaive, e_mean) AS e_min FROM e),
       |models AS (
       |  SELECT 'mean' AS model, count(*) AS n_evals,
       |         sum(e_mean) AS sae, sum(e_mean) // count(*) AS mae_cents,
       |         sum(CASE WHEN e_mean = e_min THEN 1 ELSE 0 END) AS wins
       |  FROM em
       |  UNION ALL
       |  SELECT 'naive', count(*), sum(e_naive), sum(e_naive) // count(*),
       |         sum(CASE WHEN e_naive = e_min THEN 1 ELSE 0 END)
       |  FROM em
       |  UNION ALL
       |  SELECT 'snaive', count(*), sum(e_snaive),
       |         sum(e_snaive) // count(*),
       |         sum(CASE WHEN e_snaive = e_min THEN 1 ELSE 0 END)
       |  FROM em)
       |SELECT model, CAST(n_evals AS BIGINT) AS n_evals,
       |       CAST(sae AS BIGINT) AS sae_cents,
       |       CAST(mae_cents AS BIGINT) AS mae_cents,
       |       CAST(wins AS BIGINT) AS wins
       |FROM models ORDER BY model""".stripMargin) { (s, d) =>
    val e = QueryScope.materialize("e")(forecastFrame(s, d)
      .select(col("d"),
        abs(col("cents") - col("f_naive")).as("e_naive"),
        abs(col("cents") - col("f_snaive")).as("e_snaive"),
        abs(col("cents") - col("f_mean")).as("e_mean"))
      .withColumn("e_min",
        least(col("e_naive"), col("e_snaive"), col("e_mean")))) // 23 rows feeding three rollups
    def model(name: String, err: String) = e.agg(
        count(lit(1)).as("n_evals"),
        sum(col(err)).as("sae_cents"),
        expr(s"sum($err) div count(*)").as("mae_cents"),
        sum(when(col(err) === col("e_min"), 1L).otherwise(0L)).as("wins"))
      .select(lit(name).as("model"), col("n_evals"),
        col("sae_cents").cast("long").as("sae_cents"),
        col("mae_cents").cast("long").as("mae_cents"), col("wins"))
    model("mean", "e_mean")
      .unionByName(model("naive", "e_naive"))
      .unionByName(model("snaive", "e_snaive"))
      .orderBy("model")
  }

  /** B285 bootstrap replication count (the rank arithmetic below keeps
    * the 2.5%/97.5% cut exact for any R ≥ 40). */
  val BootReps = 200L

  /** Poisson(1) inverse CDF over an integer uniform u ∈ [0, 2³¹):
    * w = min{k : u < ⌊CDF(k)·2³¹⌋} — frozen driver-side thresholds (the
    * geomNoiseLadder freeze); the ladder is finite because CDF(8)
    * saturates 2³¹. */
  private[graft] def poissonLadder(uCol: String): String = {
    val M = PrivacyOps.UniformM
    var cdf = 0.0
    var fact = 1.0
    val whens = (0 to 16).flatMap { k =>
      if (k > 0) fact *= k
      cdf += math.exp(-1.0) / fact
      val t = math.floor(cdf * M).toLong
      if (t >= M) None else Some((k, t))
    }
    val body = whens.map { case (k, t) => s"WHEN $uCol < $t THEN $k" }
    s"(CASE ${body.mkString(" ")} ELSE ${whens.last._1 + 1} END)"
  }

  private def bootUSpark(keyExpr: String): String =
    s"(((${graft.llm.Winnowing.polyFoldSpark(keyExpr)})" +
      s" % ${PrivacyOps.UniformM}) * ${PrivacyOps.Knuth})" +
      s" % ${PrivacyOps.UniformM}"
  private def bootUDuck(keyExpr: String): String =
    s"(((${graft.llm.Winnowing.polyFoldDuck(keyExpr)})" +
      s" % ${PrivacyOps.UniformM}) * ${PrivacyOps.Knuth})" +
      s" % ${PrivacyOps.UniformM}"

  /** B285 — A/B BOOTSTRAP CONFIDENCE INTERVAL (Efron 1979; the Poisson
    * resampling variant every large-scale experimentation platform runs
    * because true multinomial resampling cannot stream — each unit's
    * resample weight is an independent Poisson(1), so weights are a
    * pure per-(rep, user) function and the whole bootstrap is R
    * weighted aggregates over ONE pass): the nonparametric inference
    * layer over b201's experiment — b201 reports Welch's t² under a
    * normality assumption that per-user revenue (zero-inflated,
    * heavy-tailed) flagrantly violates; the percentile bootstrap makes
    * no such assumption. Per rep r ∈ [1, R]: seeded Poisson(1) weights
    * per user, weighted mean revenue per variant (integer cents, floor),
    * boot diff = m1 − m0; the released interval is the 2.5th/97.5th
    * percentile of the R boot diffs (ranks ⌈.025R⌉ and R−⌈.025R⌉+1,
    * ties cut by rep id), plus the observed diff and the significance
    * flag (0 outside [lo, hi]).
    *
    * Scale posture: ONE map-combinable per-user revenue aggregate; the
    * user×R explosion is map-side (sequence + explode) and dies at the
    * (rep, variant) aggregate — 2R partial rows per task regardless of
    * corpus size (the sufficient-statistics argument: the bootstrap
    * never materializes a resample); ranks run over the R-row rollup
    * (the b125 exception). */
  private val b285 = entry(
    "b285_ab_bootstrap_ci", {
      val w = poissonLadder(
        bootUDuck("('bci:' || CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR))"))
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |v AS (SELECT user_id,
         |             (((user_id % 2147483648) * 2654435761) % 2147483648)
         |               // 1073741824 AS variant FROM u),
         |px AS (SELECT user_id,
         |              sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
         |       FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         |x AS (SELECT v.user_id, v.variant, coalesce(px.cents, 0) AS cents
         |      FROM v LEFT JOIN px ON px.user_id = v.user_id),
         |obs AS (SELECT
         |    CAST(sum(CASE WHEN variant = 1 THEN cents ELSE 0 END)
         |         // greatest(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END), 1)
         |       - sum(CASE WHEN variant = 0 THEN cents ELSE 0 END)
         |         // greatest(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END), 1)
         |       AS BIGINT) AS diff_obs
         |  FROM x),
         |wx AS (
         |  SELECT r, variant, $w AS w, cents
         |  FROM x, UNNEST(generate_series(1, $BootReps)) t(r)),
         |reps AS (
         |  SELECT r,
         |         CAST(sum(CASE WHEN variant = 1 THEN w * cents ELSE 0 END)
         |              // sum(CASE WHEN variant = 1 THEN w ELSE 0 END)
         |            - sum(CASE WHEN variant = 0 THEN w * cents ELSE 0 END)
         |              // sum(CASE WHEN variant = 0 THEN w ELSE 0 END)
         |            AS BIGINT) AS diff
         |  FROM wx GROUP BY r
         |  HAVING sum(CASE WHEN variant = 1 THEN w ELSE 0 END) > 0
         |     AND sum(CASE WHEN variant = 0 THEN w ELSE 0 END) > 0),
         |rk AS (
         |  SELECT diff,
         |         row_number() OVER (ORDER BY diff, r) AS rn,
         |         count(*) OVER () AS nv
         |  FROM reps),
         |ci AS (
         |  SELECT CAST(max(nv) AS BIGINT) AS n_reps,
         |         CAST(max(CASE WHEN rn = (nv * 25 + 999) // 1000
         |                       THEN diff END) AS BIGINT) AS ci_lo_cents,
         |         CAST(max(CASE WHEN rn = nv - (nv * 25 + 999) // 1000 + 1
         |                       THEN diff END) AS BIGINT) AS ci_hi_cents
         |  FROM rk)
         |SELECT n_reps, diff_obs AS diff_obs_cents, ci_lo_cents, ci_hi_cents,
         |       CAST(CASE WHEN ci_lo_cents > 0 OR ci_hi_cents < 0
         |                 THEN 1 ELSE 0 END AS BIGINT) AS significant
         |FROM ci CROSS JOIN obs""".stripMargin
    }, bench = true) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
    val u = ev.select("user_id").distinct()
    val v = u.withColumn("variant",
      expr("(((user_id % 2147483648) * 2654435761) % 2147483648)" +
        " div 1073741824"))
    val px = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("cents"))
    val x = QueryScope.materialize("x")(v.join(px, Seq("user_id"), "left")
      .select(col("user_id"), col("variant"),
        coalesce(col("cents"), lit(0L)).as("cents"))) // one pass feeds obs + the R-rep explosion
    // greatest(count, 1): an empty variant would make DuckDB `// 0` raise
    // while Spark div yields NULL — identical failure surface instead
    // (ADVICE r17 #5; the rep-level sums are already HAVING-guarded)
    val obs = x.agg(
      expr("CAST(sum(CASE WHEN variant = 1 THEN cents ELSE 0 END)" +
        " div greatest(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END), 1)" +
        " - sum(CASE WHEN variant = 0 THEN cents ELSE 0 END)" +
        " div greatest(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END), 1)" +
        " AS BIGINT)").as("diff_obs"))
    val wExpr = poissonLadder(bootUSpark(
      "concat('bci:', CAST(r AS STRING), ':', CAST(user_id AS STRING))"))
    val reps = x
      .select(col("user_id"), col("variant"), col("cents"),
        explode(expr(s"sequence(1L, ${BootReps}L)")).as("r"))
      .withColumn("w", expr(wExpr))
      .groupBy("r")
      .agg(
        sum(when(col("variant") === 1, col("w") * col("cents"))
          .otherwise(0L)).as("swx1"),
        sum(when(col("variant") === 1, col("w")).otherwise(0L)).as("sw1"),
        sum(when(col("variant") === 0, col("w") * col("cents"))
          .otherwise(0L)).as("swx0"),
        sum(when(col("variant") === 0, col("w")).otherwise(0L)).as("sw0"))
      .filter(col("sw1") > 0 && col("sw0") > 0)
      .select(col("r"),
        expr("CAST(swx1 div sw1 - swx0 div sw0 AS BIGINT)").as("diff"))
    val rk = reps
      .withColumn("rn", row_number().over(Window.orderBy(col("diff"), col("r"))))
      .withColumn("nv", count(lit(1)).over(Window.partitionBy()))
    val ci = rk.agg(
      max(col("nv")).cast("long").as("n_reps"),
      max(when(col("rn") === expr("(nv * 25 + 999) div 1000"), col("diff")))
        .cast("long").as("ci_lo_cents"),
      max(when(col("rn") === expr("nv - (nv * 25 + 999) div 1000 + 1"),
        col("diff"))).cast("long").as("ci_hi_cents"))
    ci.crossJoin(broadcast(obs))
      .select(col("n_reps"), col("diff_obs").as("diff_obs_cents"),
        col("ci_lo_cents"), col("ci_hi_cents"),
        expr("CAST(CASE WHEN ci_lo_cents > 0 OR ci_hi_cents < 0" +
          " THEN 1 ELSE 0 END AS BIGINT)").as("significant"))
  }

  /** B287 incident plant: error volume × 5 on days [21, 23]. */
  val IncidentFromDay = 21L
  val IncidentToDay = 23L
  val IncidentMul = 5L

  /** B287 alert policy in bp of the measured base error rate: fast burn
    * ≥ 2× on the 1-day window, slow burn ≥ 1.5× on the 3-day window —
    * level-relative (the b276 trick) so one spelling holds at every SF. */
  val FastBurnBp = 20000L
  val SlowBurnBp = 15000L

  /** B287 — SLO BURN-RATE ALERTS (Google SRE Workbook ch. 5, the
    * multiwindow multi-burn-rate policy every error-budget alert copies;
    * the OPS twin of B276: CUSUM localizes a level shift in volume,
    * burn-rate alerting pages on error-budget consumption): SLI = daily
    * error-event share; burn = day share ÷ the series' own base share
    * (level-relative, so the clean series idles at ~10⁴ bp); alerts per
    * day: fast = 1-day burn ≥ [[FastBurnBp]], slow = 3-day rolling burn
    * ≥ [[SlowBurnBp]], page = fast AND slow (the workbook's AND — a
    * single bad day pages only if the 3-day budget also burns). Two
    * legs: `clean` (the real series — quiet at every SF) and `incident`
    * (error count × [[IncidentMul]] on days [21, 23], added errors also
    * inflating the day total — the page fires exactly inside the
    * incident window).
    *
    * Integer-exact: shares and burns in bp by floor division; the
    * 3-day window is a rolling sum of integer counts.
    *
    * Scale posture: ONE map-combinable (day × leg) aggregate over the
    * fact table (legs are projections of the same scan); base rate
    * broadcasts one-row; rolling windows run over the \|days\| rollup
    * (b125). */
  private val b287 = entry(
    "b287_slo_burn_alerts",
    s"""WITH daily AS (
       |  SELECT CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
       |              AS BIGINT) AS day_id,
       |         CAST(count(*) AS BIGINT) AS n_tot,
       |         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_bad
       |  FROM events GROUP BY 1),
       |legs AS (
       |  SELECT 'clean' AS leg, day_id, n_tot, n_bad FROM daily
       |  UNION ALL
       |  SELECT 'incident', day_id,
       |         CASE WHEN day_id BETWEEN $IncidentFromDay AND $IncidentToDay
       |              THEN n_tot + ($IncidentMul - 1) * n_bad ELSE n_tot END,
       |         CASE WHEN day_id BETWEEN $IncidentFromDay AND $IncidentToDay
       |              THEN $IncidentMul * n_bad ELSE n_bad END
       |  FROM daily),
       |base AS (SELECT sum(n_bad) * 10000 // sum(n_tot) AS base_bp
       |         FROM daily),
       |w AS (
       |  SELECT leg, day_id, n_tot, n_bad,
       |         sum(n_bad) OVER (PARTITION BY leg ORDER BY day_id
       |                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
       |           AS bad3,
       |         sum(n_tot) OVER (PARTITION BY leg ORDER BY day_id
       |                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
       |           AS tot3
       |  FROM legs),
       |b AS (
       |  SELECT leg, day_id,
       |         CAST(n_bad * 10000 // n_tot * 10000
       |              // greatest(base_bp, 1) AS BIGINT) AS burn1_bp,
       |         CAST(bad3 * 10000 // tot3 * 10000
       |              // greatest(base_bp, 1) AS BIGINT) AS burn3_bp
       |  FROM w CROSS JOIN base)
       |SELECT leg, day_id, burn1_bp, burn3_bp,
       |       CAST(CASE WHEN burn1_bp >= $FastBurnBp
       |                  AND burn3_bp >= $SlowBurnBp
       |                 THEN 1 ELSE 0 END AS BIGINT) AS page
       |FROM b ORDER BY leg, day_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, d)
      .groupBy(expr("CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01')" +
        " AS BIGINT)").as("day_id"))
      .agg(count(lit(1)).as("n_tot"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_bad"))
    val legs = daily.select(lit("clean").as("leg"), col("day_id"),
        col("n_tot"), col("n_bad"))
      .unionByName(daily.select(lit("incident").as("leg"), col("day_id"),
        expr(s"CASE WHEN day_id BETWEEN $IncidentFromDay AND $IncidentToDay" +
          s" THEN n_tot + ($IncidentMul - 1) * n_bad ELSE n_tot END")
          .as("n_tot"),
        expr(s"CASE WHEN day_id BETWEEN $IncidentFromDay AND $IncidentToDay" +
          s" THEN $IncidentMul * n_bad ELSE n_bad END").as("n_bad")))
    val base = daily.agg(
      expr("sum(n_bad) * 10000 div sum(n_tot)").as("base_bp"))
    val w3 = Window.partitionBy(col("leg")).orderBy(col("day_id"))
      .rowsBetween(-2, Window.currentRow)
    legs
      .withColumn("bad3", sum(col("n_bad")).over(w3))
      .withColumn("tot3", sum(col("n_tot")).over(w3))
      .crossJoin(broadcast(base))
      .select(col("leg"), col("day_id"),
        // greatest(base_bp, 1): a 0-bp base error share would divide by
        // zero — DuckDB `// 0` raises while Spark `div` yields NULL, so
        // the engines would diverge in FAILURE MODE on degenerate input
        // (ADVICE r17 #5); the floor makes both surface it identically
        expr("CAST(n_bad * 10000 div n_tot * 10000" +
          " div greatest(base_bp, 1) AS BIGINT)").as("burn1_bp"),
        expr("CAST(bad3 * 10000 div tot3 * 10000" +
          " div greatest(base_bp, 1) AS BIGINT)").as("burn3_bp"))
      .withColumn("page",
        expr(s"CAST(CASE WHEN burn1_bp >= $FastBurnBp" +
          s" AND burn3_bp >= $SlowBurnBp THEN 1 ELSE 0 END AS BIGINT)"))
      .orderBy("leg", "day_id")
  }

  /** B288 censoring margin: a user whose last event falls within this
    * many days of the horizon is censored (still active), not churned. */
  val CensorMarginDays = 3L

  /** B288 attrition-leg churn-day modulus: seeded churn ~ U[0, 39]
    * days after first activity; draws past the observed span stay
    * censored, so the leg exercises deaths AND censoring at every SF. */
  val ChurnMod = 40L

  /** B288 — KAPLAN-MEIER RETENTION (Kaplan & Meier, JASA 1958 — the
    * survival estimator every retention curve with RIGHT-CENSORING
    * needs: a naive "share of users retained t days" treats users who
    * simply joined late as churned; KM removes censored users from the
    * risk set without counting them as deaths): lifetime = last-event
    * day − first-event day per user; censored iff the last event lands
    * within [[CensorMarginDays]] of the observation horizon. Per
    * (leg, observed lifetime t): the at-risk count (total minus
    * everyone who exited earlier), the death count d (uncensored exits
    * at t), censored exits, and Ŝ(t) = Π_{i ≤ t} (1 − d_i/n_i) — the
    * product spelled exp(Σ ln(1 − d/n)) over the bounded rollup
    * (factors are positive until a possible final all-deaths row,
    * where a running flag pins Ŝ = 0 exactly; ln/exp + round(4) is the
    * b46 float contract).
    *
    * Two legs (the b281/b287 convention): `clean` — the real cohort,
    * which this fixture makes honestly DEGENERATE (every user active
    * across the whole horizon ⇒ zero deaths, Ŝ ≡ 1 — the report a
    * retention analyst should see for such a cohort); `attrited` — the
    * same cohort under a seeded churn plant (user churns
    * fold('km:'‖user) mod [[ChurnMod]] days after first activity;
    * draws past the user's real span leave the user censored), which
    * exercises deaths, mixed censoring, and a genuinely decreasing
    * curve at every SF.
    *
    * Scale posture: ONE map-combinable per-user (min day, max day)
    * aggregate over the fact table; legs are projections of that
    * user-grain rollup; the lifetime rollup is calendar-bounded and
    * every window (cumulative exits, running product) runs over it
    * (b125); the horizon broadcasts one-row. */
  private val b288 = entry(
    "b288_retention_survival", {
      val churnDuck =
        s"(((${graft.llm.Winnowing.polyFoldDuck("('km:' || CAST(user_id AS VARCHAR))")})" +
          s" % ${PrivacyOps.UniformM}) * ${PrivacyOps.Knuth})" +
          s" % ${PrivacyOps.UniformM} % $ChurnMod"
      s"""WITH ud AS (
         |  SELECT user_id,
         |         CAST(min(datediff('day', DATE '2024-01-01',
         |                           CAST(ts AS DATE))) AS BIGINT) AS d0,
         |         CAST(max(datediff('day', DATE '2024-01-01',
         |                           CAST(ts AS DATE))) AS BIGINT) AS d1
         |  FROM events GROUP BY user_id),
         |hz AS (SELECT max(d1) AS h FROM ud),
         |lt0 AS (
         |  SELECT user_id, d1 - d0 AS t_real,
         |         CASE WHEN d1 >= h - $CensorMarginDays THEN 1 ELSE 0 END
         |           AS cens_real,
         |         $churnDuck AS churn
         |  FROM ud CROSS JOIN hz),
         |lt AS (
         |  SELECT 'clean' AS leg, t_real AS t, cens_real AS censored
         |  FROM lt0
         |  UNION ALL
         |  SELECT 'attrited',
         |         CASE WHEN churn <= t_real THEN churn ELSE t_real END,
         |         CASE WHEN churn <= t_real THEN 0 ELSE cens_real END
         |  FROM lt0),
         |tot AS (SELECT leg, CAST(count(*) AS BIGINT) AS n_users
         |        FROM lt GROUP BY leg),
         |ev AS (
         |  SELECT leg, t, CAST(count(*) AS BIGINT) AS w,
         |         CAST(sum(1 - censored) AS BIGINT) AS d,
         |         CAST(sum(censored) AS BIGINT) AS c
         |  FROM lt GROUP BY leg, t),
         |rs AS (
         |  SELECT ev.leg, t, w, d, c,
         |         CAST(n_users - coalesce(sum(w) OVER (PARTITION BY ev.leg
         |                            ORDER BY t
         |                            ROWS BETWEEN UNBOUNDED PRECEDING
         |                            AND 1 PRECEDING), 0) AS BIGINT)
         |           AS n_risk
         |  FROM ev JOIN tot ON tot.leg = ev.leg),
         |f AS (
         |  SELECT leg, t, w, d, c, n_risk,
         |         CASE WHEN d < n_risk
         |              THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk) END AS lnf,
         |         CASE WHEN d = n_risk THEN 1 ELSE 0 END AS dies_out
         |  FROM rs)
         |SELECT leg, t, n_risk, d AS deaths, c AS censored,
         |       CASE WHEN max(dies_out) OVER (PARTITION BY leg ORDER BY t
         |                  ROWS UNBOUNDED PRECEDING) = 1 THEN 0.0
         |            ELSE round(exp(coalesce(sum(lnf) OVER (PARTITION BY leg
         |                  ORDER BY t ROWS UNBOUNDED PRECEDING), 0.0)), 4)
         |       END AS survival
         |FROM f ORDER BY leg, t""".stripMargin
    }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val churnSpark =
      s"(((${graft.llm.Winnowing.polyFoldSpark("concat('km:', CAST(user_id AS STRING))")})" +
        s" % ${PrivacyOps.UniformM}) * ${PrivacyOps.Knuth})" +
        s" % ${PrivacyOps.UniformM} % $ChurnMod"
    val ud = Tables.events(s, d)
      .groupBy("user_id")
      .agg(expr("CAST(min(datediff(CAST(ts AS DATE), DATE '2024-01-01'))" +
        " AS BIGINT)").as("d0"),
        expr("CAST(max(datediff(CAST(ts AS DATE), DATE '2024-01-01'))" +
          " AS BIGINT)").as("d1"))
    val hz = ud.agg(max("d1").as("h"))
    val lt0 = ud.crossJoin(broadcast(hz))
      .select(col("user_id"), (col("d1") - col("d0")).as("t_real"),
        expr(s"CASE WHEN d1 >= h - $CensorMarginDays THEN 1 ELSE 0 END")
          .as("cens_real"),
        expr(churnSpark).as("churn"))
    val lt = lt0.select(lit("clean").as("leg"), col("t_real").as("t"),
        col("cens_real").as("censored"))
      .unionByName(lt0.select(lit("attrited").as("leg"),
        expr("CASE WHEN churn <= t_real THEN churn ELSE t_real END").as("t"),
        expr("CASE WHEN churn <= t_real THEN 0 ELSE cens_real END")
          .as("censored")))
    val tot = lt.groupBy("leg").agg(count(lit(1)).as("n_users"))
    val ev = lt.groupBy("leg", "t").agg(
      count(lit(1)).as("w"),
      sum(expr("1 - censored")).as("d"),
      sum(col("censored")).as("c"))
    val ord = Window.partitionBy(col("leg")).orderBy(col("t"))
    val prior = ord.rowsBetween(Window.unboundedPreceding, -1)
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.join(broadcast(tot), "leg")
      .withColumn("n_risk",
        col("n_users") - coalesce(sum(col("w")).over(prior), lit(0L)))
      .withColumn("lnf",
        expr("CASE WHEN d < n_risk" +
          " THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk) END"))
      .withColumn("dies_out", expr("CASE WHEN d = n_risk THEN 1 ELSE 0 END"))
      .select(col("leg"), col("t"), col("n_risk"), col("d").as("deaths"),
        col("c").as("censored"),
        when(max(col("dies_out")).over(run) === 1, lit(0.0))
          .otherwise(round(exp(coalesce(sum(col("lnf")).over(run), lit(0.0))), 4))
          .as("survival"))
      .orderBy("leg", "t")
  }

  /** B294 planted reporting-glitch day and magnitude. */
  val TsPlantDay = 21L
  val TsOutlierMul = 20L

  /** B294 — THEIL-SEN ROBUST TREND (Theil 1950; Sen, JASA 1968 — the
    * median of pairwise slopes, the robust replacement for OLS trend on
    * monitoring series: ONE corrupted day — a backfill glitch, a
    * double-counted partition — drags an OLS slope arbitrarily, while
    * Theil-Sen's breakdown point is 29%): over the daily purchase-cents
    * series, both estimators side by side, per leg.
    *
    * Two legs (the b281/b287 planted convention): `clean`, and
    * `outlier_plant` — day [[TsPlantDay]]'s total ×[[TsOutlierMul]] (the
    * classic double-ingest spike). The output shows the contrast the
    * operator exists for: OLS moves by orders of magnitude, the
    * Theil-Sen median barely moves (MonitoringSpec pins the ratio and
    * replays both estimators in the JVM).
    *
    * Integer-exact: slopes in bp via BIGINT cross-multiplication and
    * trunc division (Spark div ≡ DuckDB // on negatives); the median
    * rank ties cut by (slope, da, db); OLS via the closed form
    * (nΣdv − ΣdΣv)·10⁴ div (nΣd² − (Σd)²).
    *
    * Scale posture: ONE map-combinable day aggregate over the fact
    * table; the pairwise expansion is |days|² over the CALENDAR-bounded
    * rollup (the b125 exception — ~1.8k pairs for 60 days, constant in
    * corpus size); the median rank windows run over that same rollup. */
  private val b294 = entry(
    "b294_theil_sen_trend",
    s"""WITH daily AS (
       |  SELECT CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
       |              AS BIGINT) AS d,
       |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
       |              AS BIGINT) AS v
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |legs AS (
       |  SELECT 'clean' AS leg, d, v FROM daily
       |  UNION ALL
       |  SELECT 'outlier_plant', d,
       |         CASE WHEN d = $TsPlantDay THEN v * $TsOutlierMul
       |              ELSE v END
       |  FROM daily),
       |pairs AS (
       |  SELECT a.leg,
       |         CAST((b.v - a.v) * 10000 // (b.d - a.d) AS BIGINT)
       |           AS slope_bp,
       |         a.d AS da, b.d AS db
       |  FROM legs a JOIN legs b ON a.leg = b.leg AND a.d < b.d),
       |ts AS (
       |  SELECT leg, slope_bp,
       |         row_number() OVER (PARTITION BY leg
       |                            ORDER BY slope_bp, da, db) AS rn,
       |         count(*) OVER (PARTITION BY leg) AS np
       |  FROM pairs),
       |tsm AS (SELECT leg, slope_bp AS ts_slope_bp FROM ts
       |        WHERE rn = (np + 1) // 2),
       |ols AS (
       |  SELECT leg, CAST(count(*) AS BIGINT) AS n_days,
       |         CAST((count(*) * sum(d * v) - sum(d) * sum(v)) * 10000
       |              // greatest(count(*) * sum(d * d) - sum(d) * sum(d), 1)
       |              AS BIGINT) AS ols_slope_bp
       |  FROM legs GROUP BY leg)
       |SELECT o.leg, o.n_days, t.ts_slope_bp, o.ols_slope_bp
       |FROM ols o JOIN tsm t ON t.leg = o.leg
       |ORDER BY o.leg""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01')" +
        " AS BIGINT)").as("d"))
      .agg(sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("v"))
    val legs = QueryScope.materialize("legs")(
      daily.select(lit("clean").as("leg"), col("d"), col("v"))
        .unionByName(daily.select(lit("outlier_plant").as("leg"), col("d"),
          when(col("d") === TsPlantDay, col("v") * TsOutlierMul)
            .otherwise(col("v")).as("v")))) // feeds the pair expansion AND the OLS agg
    val pairs = legs.select(col("leg"), col("d").as("da"), col("v").as("va"))
      .join(legs.select(col("leg"), col("d").as("db"), col("v").as("vb")),
        Seq("leg"))
      .filter(col("da") < col("db"))
      .select(col("leg"),
        expr("CAST((vb - va) * 10000 div (db - da) AS BIGINT)")
          .as("slope_bp"),
        col("da"), col("db"))
    val tsm = pairs
      .withColumn("rn", row_number().over(Window.partitionBy("leg")
        .orderBy(col("slope_bp"), col("da"), col("db"))))
      .withColumn("np", count(lit(1)).over(Window.partitionBy("leg")))
      .filter(col("rn") === expr("(np + 1) div 2"))
      .select(col("leg"), col("slope_bp").as("ts_slope_bp"))
    // greatest(.., 1): the OLS denominator n·Σd²−(Σd)² is 0 for a
    // single-day series — DuckDB `// 0` raises while Spark div yields NULL
    // and the tsm join silently empties (ADVICE r18 item 3, the b285/b287
    // engine-divergence fix applied here too)
    val ols = legs.groupBy("leg").agg(
      count(lit(1)).as("n_days"),
      expr("CAST((count(1) * sum(d * v) - sum(d) * sum(v)) * 10000" +
        " div greatest(count(1) * sum(d * d) - sum(d) * sum(d), 1)" +
        " AS BIGINT)")
        .as("ols_slope_bp"))
    ols.join(tsm, "leg")
      .select("leg", "n_days", "ts_slope_bp", "ols_slope_bp")
      .orderBy("leg")
  }

  /** The minimax isotonic-fit CTEs over a (b, n, pos) bucket relation —
    * shared by b296 and the b297 quality-calibration composition. Emits
    * `iv`/`mn`/`cal`; `cal` carries (i, cal_bp). */
  private[graft] def isotonicCtesDuck(bk: String): String =
    s"""iv AS (
       |  SELECT j.b AS j, k.b AS k,
       |         CAST(sum(m.pos) * 10000 // sum(m.n) AS BIGINT) AS mean_bp
       |  FROM $bk j JOIN $bk k ON j.b <= k.b
       |  JOIN $bk m ON m.b BETWEEN j.b AND k.b
       |  GROUP BY j.b, k.b),
       |mn AS (
       |  SELECT iv.j, i.b AS i, CAST(min(iv.mean_bp) AS BIGINT) AS mn
       |  FROM iv JOIN $bk i ON iv.j <= i.b AND i.b <= iv.k
       |  GROUP BY iv.j, i.b),
       |cal AS (SELECT i, CAST(max(mn) AS BIGINT) AS cal_bp
       |        FROM mn GROUP BY i)""".stripMargin

  /** Spark twin of [[isotonicCtesDuck]]: (b, n, pos) -> (i, cal_bp). The
    * caller localCheckpoints `bk` (it fans out to four bounded joins). */
  private[graft] def isotonicCal(bk: DataFrame): DataFrame = {
    val iv = bk.select(col("b").as("j"))
      .join(bk.select(col("b").as("k")), col("j") <= col("k"))
      .join(bk.select(col("b").as("m"), col("n"), col("pos")),
        col("m") >= col("j") && col("m") <= col("k"))
      .groupBy("j", "k")
      .agg(expr("CAST(sum(pos) * 10000 div sum(n) AS BIGINT)").as("mean_bp"))
    val mn = iv
      .join(bk.select(col("b").as("i")),
        col("j") <= col("i") && col("i") <= col("k"))
      .groupBy("j", "i").agg(min("mean_bp").as("mn"))
    mn.groupBy("i").agg(max("mn").as("cal_bp"))
  }

  /** B296 bucket cap and whale-order threshold (dollars). */
  val IsoBucketCap = 14L
  val IsoWhale = 450000.0

  /** B296 — ISOTONIC CALIBRATION (pool-adjacent-violators; Ayer et al.
    * Ann. Math. Stat. 1955, Barlow & Brunk 1972; the calibration use is
    * Zadrozny & Elkan KDD'02): the monotone-regression step every score
    * calibrator runs — raw per-bucket rates are NOISY and a propensity
    * used downstream must be nondecreasing in its feature, so adjacent
    * violators pool until monotone. Series: per customer, x = order
    * count (capped at [[IsoBucketCap]]), y = "has a whale order"
    * (o_totalprice > [[IsoWhale]]) — a genuinely increasing tendency
    * with organic violations at every SF (measured: 6 at sf0.001).
    *
    * Both engines spell the fit by the MINIMAX CLOSED FORM
    * ŷ_i = max_{j≤i} min_{k≥i} mean(y over buckets j..k) — equal to PAV,
    * and because floor commutes with min and max over finite sets, the
    * bp-floored spelling below equals floor(PAV·10⁴) EXACTLY
    * (MonitoringSpec replays a literal pooling PAV in the JVM and
    * asserts equality, monotonicity, and that the fixture really forces
    * pooling).
    *
    * Scale posture: ONE map-combinable customer aggregate collapses the
    * fact table to a ≤ 15-row bucket rollup; the (j, i, k) interval
    * expansion is ≤ 15³ over that rollup (the b125 bounded-rollup class;
    * the range joins below are broadcast nested loops over ≤ 15-row
    * sides — the sanctioned bounded-input BNLJ pattern). */
  private val b296 = entry(
    "b296_isotonic_calibration",
    s"""WITH cx AS (
       |  SELECT o_custkey,
       |         least(CAST(count(*) AS BIGINT), $IsoBucketCap) AS b,
       |         CAST(max(CASE WHEN o_totalprice > $IsoWhale
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS y
       |  FROM orders GROUP BY o_custkey),
       |bk AS MATERIALIZED (
       |  SELECT b, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(y) AS BIGINT) AS pos
       |  FROM cx GROUP BY b),
       |${isotonicCtesDuck("bk")}
       |SELECT bk.b AS bucket, bk.n, bk.pos,
       |       CAST(bk.pos * 10000 // bk.n AS BIGINT) AS raw_bp,
       |       cal.cal_bp
       |FROM bk JOIN cal ON cal.i = bk.b
       |ORDER BY bucket""".stripMargin) { (s, d) =>
    // bounded rollup fans out to 4 joins below
    val bk = QueryScope.materialize("bk")(Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(least(count(lit(1)), lit(IsoBucketCap)).as("b"),
        max(when(col("o_totalprice") > IsoWhale, 1L).otherwise(0L)).as("y"))
      .groupBy("b").agg(count(lit(1)).as("n"), sum("y").as("pos")))
    bk.join(isotonicCal(bk), col("b") === col("i"))
      .select(col("b").as("bucket"), col("n"), col("pos"),
        expr("CAST(pos * 10000 div n AS BIGINT)").as("raw_bp"),
        col("cal_bp"))
      .orderBy("bucket")
  }

  /** B298 miscoverage target in bp (α = 0.2 → 80% intervals) and the
    * calibration share of the eval days (7/10). */
  val ConformalAlphaBp = 2000L
  val ConformalCalNum = 7L
  val ConformalCalDen = 10L

  /** B298 — SPLIT-CONFORMAL FORECAST INTERVALS (Vovk et al. 2005; Lei et
    * al., JASA 2018 — the distribution-free interval construction every
    * forecast consumer should demand instead of a point number): for each
    * of b277's three forecasters, the first [[ConformalCalNum]]/
    * [[ConformalCalDen]] of the evaluable days calibrate (q = the
    * ⌈(n+1)(1−α)⌉-th smallest absolute residual — the finite-sample
    * conformal quantile), the remaining days test, and the audit reports
    * the OBSERVED coverage of forecast ± q next to the 1−α target. The
    * honesty is the point: the conformal guarantee assumes
    * exchangeability, which a time series does not grant — so coverage
    * is MEASURED, not assumed, and a drifting series shows up as
    * under-coverage in this report (the b289-MISFIT convention).
    *
    * Integer-exact: residuals in cents; the quantile is an order
    * statistic (ties by (residual, day)); k = ((n+1)(10⁴−α)+9999) div 10⁴
    * clamped to n; coverage in bp by floor division. The split day
    * t0 = d0 + (d1−d0)·7 div 10 derives from the evaluable-day bounds —
    * one definition in both engines.
    *
    * Scale posture: b277's one map-combinable day aggregate; everything
    * after runs over the bounded |days| rollup and the 3-model expansion
    * (b125). */
  private val b298 = entry(
    "b298_conformal_forecast",
    s"""WITH $forecastCtesDuck,
       |bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM fc),
       |split AS (SELECT d0 + (d1 - d0) * $ConformalCalNum
       |                      // $ConformalCalDen AS t0 FROM bounds),
       |resid AS (
       |  SELECT m.model, fc.d,
       |         CASE m.model WHEN 'naive' THEN abs(cents - f_naive)
       |                      WHEN 'snaive' THEN abs(cents - f_snaive)
       |                      ELSE abs(cents - f_mean) END AS r
       |  FROM fc
       |  CROSS JOIN (VALUES ('mean'), ('naive'), ('snaive')) m(model)),
       |calr AS (SELECT resid.* FROM resid CROSS JOIN split WHERE d < t0),
       |tstr AS (SELECT resid.* FROM resid CROSS JOIN split WHERE d >= t0),
       |rk AS (
       |  SELECT model, r,
       |         row_number() OVER (PARTITION BY model ORDER BY r, d)
       |           AS rn,
       |         count(*) OVER (PARTITION BY model) AS nc
       |  FROM calr),
       |q AS (
       |  SELECT model, CAST(max(nc) AS BIGINT) AS n_cal,
       |         CAST(max(CASE WHEN rn = least(
       |                ((nc + 1) * ${10000L - ConformalAlphaBp} + 9999)
       |                  // 10000, nc)
       |              THEN r END) AS BIGINT) AS q_cents
       |  FROM rk GROUP BY model),
       |cov AS (
       |  SELECT t.model, CAST(count(*) AS BIGINT) AS n_test,
       |         CAST(sum(CASE WHEN t.r <= q.q_cents THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_covered
       |  FROM tstr t JOIN q ON q.model = t.model
       |  GROUP BY t.model),
       |rep AS (
       |  SELECT q.model, q.n_cal, q.q_cents, cov.n_test, cov.n_covered,
       |         CAST(cov.n_covered * 10000 // cov.n_test AS BIGINT)
       |           AS coverage_bp
       |  FROM q JOIN cov ON cov.model = q.model)
       |SELECT * FROM rep ORDER BY model""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val sp = s
    import sp.implicits._
    val fc = forecastFrame(s, d)
    val bounds = QueryScope.materialize("bounds")(
      fc.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
        .select(expr(s"d0 + (d1 - d0) * $ConformalCalNum" +
          s" div $ConformalCalDen").as("t0")))
    val models = Seq("mean", "naive", "snaive").toDF("model")
    val resid = fc.crossJoin(broadcast(models))
      .select(col("model"), col("d"),
        expr("CASE model WHEN 'naive' THEN abs(cents - f_naive)" +
          " WHEN 'snaive' THEN abs(cents - f_snaive)" +
          " ELSE abs(cents - f_mean) END").as("r"))
      .crossJoin(broadcast(bounds))
    val calr = resid.filter(col("d") < col("t0"))
    val tstr = resid.filter(col("d") >= col("t0"))
    val q = calr
      .withColumn("rn", row_number().over(Window.partitionBy("model")
        .orderBy(col("r"), col("d"))))
      .withColumn("nc", count(lit(1)).over(Window.partitionBy("model")))
      .groupBy("model")
      .agg(max(col("nc")).cast("long").as("n_cal"),
        max(when(col("rn") === expr(s"least(((nc + 1) *" +
          s" ${10000L - ConformalAlphaBp} + 9999) div 10000, nc)"),
          col("r"))).cast("long").as("q_cents"))
    val cov = tstr.join(q, "model")
      .groupBy("model")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("r") <= col("q_cents"), 1L).otherwise(0L))
          .as("n_covered"))
    q.join(cov, "model")
      .select(col("model"), col("n_cal"), col("q_cents"), col("n_test"),
        col("n_covered"),
        expr("CAST(n_covered * 10000 div n_test AS BIGINT)")
          .as("coverage_bp"))
      .orderBy("model")
  }

  val entries: Seq[Entry] =
    Seq(b276, b277, b285, b287, b288, b294, b296, b298)
}
