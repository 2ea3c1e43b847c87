package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.sources.Tables

/** Data-dependent MIXTURE REBALANCING (SURVEY §2B round-7 row B98) — the
  * pre-training step that equalizes a corpus's per-source token budget
  * (the uniform-target special case of DoReMi-style domain reweighting,
  * Xie et al. 2023): every source is deterministically downsampled to
  * ≈ the SMALLEST source's token mass, so no domain dominates the
  * mixture. Unlike B59's stratified sampling the rates are NOT given —
  * they are DERIVED from the data:
  *
  *   1. per-source token totals T_s (one map-side-combinable aggregate,
  *      |sources| rows);
  *   2. keep-rate in integer basis points: thr_bp(s) = ⌊min(T)·10⁴/T_s⌋
  *      — all-BIGINT arithmetic, engine-exact (min(T)·10⁴ overflows only
  *      past ~9·10¹⁴ tokens per source, documented bound);
  *   3. map-side selector: keep doc iff polyhash("mix:"‖doc_id) mod 10⁴
  *      < thr_bp(source) — B56/B59's pure-function-of-the-key rule, so
  *      the draw is rerun-, engine- and partitioning-stable, and new
  *      rows join the sample incrementally. The "mix:" salt decorrelates
  *      from b56's split buckets and b59's strata.
  *
  * Scale posture: one |sources|-row aggregate broadcast back; the filter
  * itself is map-side inside the scan's codegen stage — the corpus never
  * shuffles to be sampled. Rate quantization is 1 bp (≤ 10⁻⁴ relative),
  * the price of exact cross-engine integer arithmetic. The smallest
  * source gets thr_bp = 10⁴ and is kept whole (spec-pinned, along with
  * kept-token-mass ≈ min(T) per source).
  */
object MixtureResample {

  private val Bp = 10000L

  /** Kept-doc manifest: (doc_id, source, n_tok) of every document that
    * survives equalization, in doc_id order. */
  def resampleManifest(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val tot = toks.groupBy("source").agg(sum("n_tok").as("t"))
    val mn = tot.agg(min(col("t")).as("mint"))
    val thr = tot.crossJoin(broadcast(mn))
      .select(col("source"), expr(s"mint * $Bp div t").as("thr_bp"))
    val key = "concat('mix:', CAST(doc_id AS STRING))"
    toks.join(broadcast(thr), "source")
      .filter(expr(s"${Winnowing.polyFoldSpark(key)} % $Bp") < col("thr_bp"))
      .select(col("doc_id"), col("source"), col("n_tok"))
      .orderBy("doc_id")
  }

  /** B98 — token-budget equalization across sources. */
  private val b98 = entry(
    "b98_mixture_resample",
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |tot AS (SELECT source, sum(n_tok) AS t FROM toks GROUP BY source),
       |mn AS (SELECT min(t) AS mint FROM tot),
       |thr AS (
       |  SELECT source, CAST(mint * $Bp // t AS BIGINT) AS thr_bp
       |  FROM tot, mn)
       |SELECT t.doc_id, t.source, t.n_tok
       |FROM toks t JOIN thr ON thr.source = t.source
       |WHERE ${Winnowing.polyFoldDuck("('mix:' || CAST(t.doc_id AS VARCHAR))")}
       |      % $Bp < thr.thr_bp
       |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
    resampleManifest(Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("source")))
  }

  /** Integer scale for the argmin ratio ⌊T_u·RatioScale/w_u⌋ — large
    * enough that a floor-tie (the only way the scaled argmin can differ
    * from the exact rational one) needs ratios equal to 10⁻⁸ relative. */
  private val RatioScale = 100000000L

  /** B153 target mixture: source `srck` → (120 + 40k) basis points,
    * k = 0..19 — sums to exactly 10⁴ over the 20 corpus sources with a
    * 7.3× max/min spread, so non-uniform weighting provably binds
    * (MixtureResampleSpec pins the kept-mass ratios). A production
    * pipeline passes its own vector; sources absent from the vector get
    * weight 0 and are dropped (the inner join). */
  val TargetWeightsBp: Seq[(String, Long)] =
    (0 until 20).map(k => (s"src$k", 120L + 40L * k))

  /** Kept-doc manifest under an arbitrary TARGET WEIGHT VECTOR — the
    * DoReMi-general form of [[resampleManifest]] (Xie et al. 2023:
    * downweight domains away from the target distribution; B98 is the
    * uniform special case). Kept token mass per source s approaches
    * C·w_s where C = min_u T_u/w_u — the largest scale at which every
    * source can meet its share without upsampling; the binding source m
    * (the argmin) is kept whole.
    *
    * All arithmetic is BIGINT and engine-exact: m is chosen by the
    * scaled integer ratio ⌊T_u·10⁸/w_u⌋ (ties → smallest source name),
    * and thr_bp(s) = min(10⁴, ⌊T_m·10⁴·w_s / (w_m·T_s)⌋). The 10⁸
    * ratio scale can only mis-rank sources whose exact ratios agree to
    * within 10⁻⁸ relative — the least(10⁴) cap keeps even that case
    * lossless-legal (a keep-whole). Overflow bound: T_m·10⁴·w_s stays in
    * BIGINT up to ~9·10¹⁰ tokens per source at w ≤ 10⁴; past that,
    * pre-divide the token totals (documented, not auto-applied).
    *
    * Scale posture mirrors B98: one |sources|-row aggregate joined back
    * by broadcast; the keep decision is a pure function of doc_id inside
    * the scan's codegen stage — the corpus never shuffles to be
    * resampled, and new rows join the sample incrementally. */
  def resampleToTarget(docs: DataFrame,
      weightsBp: Seq[(String, Long)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    resampleWithWeights(docs, weightsBp.toDF("source", "w_bp"), "mix:")
  }

  /** The weight-driven resample tail shared by B153 (literal weight
    * vector) and B180 (data-derived temperature weights): weights are a
    * (source, w_bp) RELATION, the ratios w_s/w_m make the arithmetic
    * scale-invariant (no normalization needed), and `salt` decorrelates
    * each caller's draw.
    *
    * `scrambled` selects the Knuth-scrambled selector (the b167 lesson,
    * re-learned here with a sharper witness): the poly fold of
    * `salt‖doc_id` is a POLYNOMIAL in the digits, so consecutive ids
    * yield CONSECUTIVE fold values (the last digit enters with weight
    * B⁰ = 1) — `% 10⁴` then keeps contiguous all-or-nothing RUNS of ids
    * rather than a per-doc Bernoulli draw. Over a large id-interleaved
    * corpus the RATE still converges (why b98/b153's mass properties
    * hold, and their committed gate spelling stays frozen), but a SMALL
    * source occupying a contiguous id block gets kept or dropped
    * wholesale. One multiplicative scramble `(h mod 2³¹)·2654435761
    * mod 2³¹` breaks the run structure; B180 uses it because
    * temperature sampling exists precisely to protect small sources. */
  private[graft] def resampleWithWeights(docs: DataFrame, w: DataFrame,
      salt: String, scrambled: Boolean = false): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val tot = toks.groupBy("source").agg(sum("n_tok").as("t"))
      .join(broadcast(w), "source")
    val m = tot
      .select(col("source").as("msource"), col("t").as("mt"),
        col("w_bp").as("mw"), expr(s"t * ${RatioScale} div w_bp").as("r"))
      .orderBy(col("r"), col("msource")).limit(1)
    val thr = tot.crossJoin(broadcast(m))
      .select(col("source"),
        least(lit(Bp), expr(s"mt * $Bp * w_bp div (mw * t)")).as("thr_bp"))
    val h = s"poly_fold(concat('$salt', CAST(doc_id AS STRING)))"
    val sel =
      if (scrambled) s"($h % 2147483648) * 2654435761 % 2147483648 % $Bp"
      else s"$h % $Bp"
    toks.join(broadcast(thr), "source")
      .filter(expr(sel) < col("thr_bp"))
      .select(col("doc_id"), col("source"), col("n_tok"))
      .orderBy("doc_id")
  }

  /** B153 — DoReMi-style weighted mixture resampling (VERDICT r11 item
    * 6 / r12 item 5): B98's derived keep-rates generalized from the
    * uniform target to an arbitrary basis-point weight vector. */
  private val b153 = entry(
    "b153_doremi_resample", {
      val values = TargetWeightsBp
        .map { case (s, w) => s"('$s', ${w}::BIGINT)" }.mkString(", ")
      s"""WITH toks AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |w(source, w_bp) AS (VALUES $values),
         |tot AS (
         |  SELECT t.source, sum(n_tok) AS t, any_value(w_bp) AS w_bp
         |  FROM toks t JOIN w ON w.source = t.source
         |  GROUP BY t.source),
         |m AS (
         |  SELECT source AS msource, t AS mt, w_bp AS mw
         |  FROM tot ORDER BY t * $RatioScale // w_bp, source LIMIT 1),
         |thr AS (
         |  SELECT source,
         |         least($Bp, CAST(mt * $Bp * w_bp // (mw * t) AS BIGINT))
         |           AS thr_bp
         |  FROM tot, m)
         |SELECT t.doc_id, t.source, t.n_tok
         |FROM toks t JOIN thr ON thr.source = t.source
         |WHERE ${Winnowing.polyFoldDuck("('mix:' || CAST(t.doc_id AS VARCHAR))")}
         |      % $Bp < thr.thr_bp
         |ORDER BY t.doc_id""".stripMargin
    }) { (s, d) =>
    resampleToTarget(Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("source")), TargetWeightsBp)
  }

  /** Exact integer square root: ⌊√t⌋, computed as the double sqrt with
    * one ±1 correction step — exact for t < 2⁵² (double sqrt is within
    * 1 ulp there; token totals reach 2⁵² at ~4.5×10¹⁵ tokens per
    * source, far past the 10⁴·mass BIGINT bound documented above). The
    * SAME spelling runs in DuckDB, so the two engines agree bit-exactly. */
  private def isqrtSql(t: String): String = {
    val x = s"CAST(floor(sqrt(CAST($t AS DOUBLE))) AS BIGINT)"
    s"""($x + CASE WHEN ($x + 1) * ($x + 1) <= $t THEN 1
       |          WHEN $x * $x > $t THEN -1 ELSE 0 END)""".stripMargin
      .replace("\n", " ")
  }

  /** B180 — TEMPERATURE-FLATTENED MIXTURE (α-sampling, Conneau & Lample
    * NeurIPS'19 §3.1 / mT5's α: multilingual and multi-domain corpora
    * resample sources ∝ T_s^α to keep heads from drowning tails): the
    * weight vector is DERIVED from the data as w_s = ⌊√T_s⌋ — α = ½, the
    * one temperature where the power is EXACT integer arithmetic (isqrt
    * with a ±1 correction), no float pow on the gate — then fed through
    * the same scale-invariant resample tail as B153. The binding source
    * is provably the smallest (argmin T/√T = argmin √T), kept whole;
    * every other source keeps ≈ 10⁴·√(T_m/T_s) bp — the √ of B98's full
    * equalization, i.e. flattened but not leveled: big sources keep MORE
    * absolute mass (spec pins the kept-mass ordering AND that flattening
    * provably bites vs both b98 and proportional). The 'temp:' salt
    * decorrelates the draw from b98/b153.
    *
    * Scale posture: identical to B98/B153 — one |sources|-row aggregate
    * broadcast back, keep decision map-side in the scan's codegen. */
  private val b180 = entry(
    "b180_temperature_mixture",
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |tot0 AS (SELECT source, sum(n_tok) AS t FROM toks GROUP BY source),
       |tot AS (
       |  SELECT source, t, CAST(${isqrtSql("t")} AS BIGINT) AS w_bp
       |  FROM tot0),
       |m AS (
       |  SELECT source AS msource, t AS mt, w_bp AS mw
       |  FROM tot ORDER BY t * $RatioScale // w_bp, source LIMIT 1),
       |thr AS (
       |  SELECT source,
       |         least($Bp, CAST(mt * $Bp * w_bp // (mw * t) AS BIGINT))
       |           AS thr_bp
       |  FROM tot, m)
       |SELECT t.doc_id, t.source, t.n_tok
       |FROM toks t JOIN thr ON thr.source = t.source
       |WHERE (${Winnowing.polyFoldDuck("('temp:' || CAST(t.doc_id AS VARCHAR))")}
       |       % 2147483648) * 2654435761 % 2147483648 % $Bp < thr.thr_bp
       |ORDER BY t.doc_id""".stripMargin, bench = true) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("source"))
    val toks = docs.select(col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val w = toks.groupBy("source").agg(sum("n_tok").as("t"))
      .select(col("source"), expr(s"CAST(${isqrtSql("t")} AS BIGINT)").as("w_bp"))
    resampleWithWeights(docs, w, "temp:", scrambled = true)
  }

  val entries: Seq[Entry] = Seq(b98, b153, b180)
}
