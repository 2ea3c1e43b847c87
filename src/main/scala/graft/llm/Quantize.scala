package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.sources.Tables

/** B123 — INT8 EMBEDDING QUANTIZATION (symmetric per-dimension max-abs
  * scaling, the FAISS `SQ8`/ScaNN convention): the memory lever that lets
  * an ANN index hold 4× more vectors per executor, and the natural
  * upstream of the PQ stack (B84) — scalar quantization is what you run
  * when 4× is enough and you cannot afford PQ's codebook training.
  *
  * Per dimension j: scale s_j = max_i |x_ij|; code q_ij =
  * ⌊x_ij·127/s_j + ½⌋ ∈ [−127, 127]; reconstruction x̂ = q·s/127.
  *
  * Cross-engine exactness (the t2 contract for a FLOAT column): every
  * arithmetic step is either exact or a single correctly-rounded IEEE-754
  * double op evaluated in the same order on both engines —
  * float32→float64 promotion is exact, x·127 is exact (31 significant
  * bits), /s is one rounded op, +½ and floor are deterministic — so
  * per-element codes and fixed-point errors are bit-identical, and the
  * per-dim error mass sums in BIGINT (exact, order-free). No
  * `round()`: its half-way tie rule differs across dialects;
  * ⌊x+½⌋ is the one spelling both engines share.
  *
  * Scale posture (100 TB): the only data-proportional work is the
  * map-side explode; both aggregates partial-combine to O(dim) rows per
  * task (dim ≈ 2⁵–2¹⁰, so the shuffle carries KBs per task regardless of
  * corpus size), and the scale table re-joins by BROADCAST — the vectors
  * themselves never shuffle. Saturation counts (|q| = 127) are the
  * monitoring signal for outlier-driven scale blowup that motivates
  * percentile clipping in production quantizers. */
object Quantize {

  /** Fixed-point error granularity: |x − x̂| in integer nano-units. */
  private val ErrFp = "1000000000.0"

  /** Per-dimension quantization stats: (dim, scale_f, n_vals, n_sat,
    * sum_abs_err_fp). `scale_f` is the exact float32 max-abs promoted to
    * double; `sum_abs_err_fp` is Σ⌊|x − q·s/127|·10⁹⌋ — exact BIGINT. */
  def dimStats(emb: DataFrame): DataFrame = {
    val flat = emb.select(
      posexplode(col("embedding")).as(Seq("dim", "f")))
      .select(col("dim"), col("f").cast("double").as("v"))
    val scales = flat.groupBy("dim").agg(max(abs(col("v"))).as("mxd"))
    flat.join(broadcast(scales), "dim")
      .withColumn("code", expr(
        "CASE WHEN mxd = 0.0 THEN 0 " +
          "ELSE CAST(floor(v * 127.0 / mxd + 0.5) AS INT) END"))
      .withColumn("err_fp", expr(
        "CASE WHEN mxd = 0.0 THEN CAST(0 AS BIGINT) " +
          s"ELSE CAST(floor(abs(v - code * mxd / 127.0) * $ErrFp) AS BIGINT) END"))
      .groupBy("dim")
      .agg(
        max(col("mxd")).as("scale_f"),
        count(lit(1)).as("n_vals"),
        sum(when(abs(col("code")) === 127, 1L).otherwise(0L)).as("n_sat"),
        sum(col("err_fp")).as("sum_abs_err_fp"))
      .select(col("dim").cast("long").as("dim"), col("scale_f"),
        col("n_vals"), col("n_sat"), col("sum_abs_err_fp"))
      .orderBy("dim")
  }

  /** B123 — the oracle replays the identical trajectory with DuckDB's
    * zipped UNNEST as posexplode; every sum that feeds an output column
    * is CAST AS BIGINT (the HUGEINT rule, BASELINE.md). */
  private val b123 = entry(
    "b123_embedding_quantize_int8",
    s"""WITH flat0 AS (
       |  SELECT UNNEST(range(len(embedding))) AS dim, UNNEST(embedding) AS f
       |  FROM embeddings),
       |flat AS (SELECT dim, CAST(f AS DOUBLE) AS v FROM flat0),
       |scales AS (SELECT dim, max(abs(v)) AS mxd FROM flat GROUP BY dim),
       |q AS (
       |  SELECT f.dim, f.v, s.mxd,
       |         CASE WHEN s.mxd = 0.0 THEN 0
       |              ELSE CAST(floor(f.v * 127.0 / s.mxd + 0.5) AS INT)
       |         END AS code
       |  FROM flat f JOIN scales s USING (dim))
       |SELECT CAST(dim AS BIGINT) AS dim,
       |       max(mxd) AS scale_f,
       |       count(*) AS n_vals,
       |       CAST(sum(CASE WHEN abs(code) = 127 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_sat,
       |       CAST(sum(CASE WHEN mxd = 0.0 THEN 0
       |                ELSE CAST(floor(abs(v - code * mxd / 127.0) * $ErrFp)
       |                          AS BIGINT) END) AS BIGINT) AS sum_abs_err_fp
       |FROM q GROUP BY dim ORDER BY dim""".stripMargin,
    bench = true) { (s, d) =>
    dimStats(Tables.embeddings(s, d))
  }

  /** Outlier budget for the rank-clipped variant: the clip threshold is
    * the k-th largest |x| per dimension — a FIXED budget, so the per-task
    * top-k heap stays bounded at any corpus size (unlike a rate-based
    * percentile, whose exact form buffers O(N/dim) per group). */
  val ClipK = 10

  /** B126 — rank-clipped int8 quantization: scale s_j = the ClipK-th
    * largest |x_ij| (B87's bounded-state TopKAgg — shuffle carries ≤ k
    * pairs per dim per task), codes clamp to [−127, 127], so the k−1
    * magnitudes above the threshold saturate by design. This is the
    * production shape B123's saturation monitoring motivates: a handful
    * of outliers no longer inflate the scale (and with it the in-range
    * quantization step) for the whole dimension. clamp-then-round equals
    * round-then-clamp (integer bounds, round moves ≤ ½) and keeps the
    * cast in-range under ANSI. */
  def clippedDimStats(emb: DataFrame, k: Int = ClipK): DataFrame = {
    val topk = udaf(graft.functions.TopKAgg(k))
    val flat = emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "f")))
      .select(col("vec_id"), col("dim"), col("f").cast("double").as("v"))
    val thr = flat.groupBy("dim")
      .agg(topk(abs(col("v")), col("vec_id")).as("top"))
      .select(col("dim"),
        element_at(col("top"), least(lit(k), size(col("top"))))
          .getField("_1").as("thr"))
    flat.join(broadcast(thr), "dim")
      .withColumn("code", expr(
        "CASE WHEN thr = 0.0 THEN 0 " +
          "ELSE CAST(floor(greatest(-127.0, least(127.0, v * 127.0 / thr))" +
          " + 0.5) AS INT) END"))
      .withColumn("err_fp", expr(
        "CASE WHEN thr = 0.0 THEN CAST(0 AS BIGINT) " +
          s"ELSE CAST(floor(abs(v - code * thr / 127.0) * $ErrFp) AS BIGINT) END"))
      .groupBy("dim")
      .agg(
        max(col("thr")).as("scale_f"),
        count(lit(1)).as("n_vals"),
        sum(when(abs(col("code")) === 127, 1L).otherwise(0L)).as("n_sat"),
        sum(col("err_fp")).as("sum_abs_err_fp"))
      .select(col("dim").cast("long").as("dim"), col("scale_f"),
        col("n_vals"), col("n_sat"), col("sum_abs_err_fp"))
      .orderBy("dim")
  }

  /** B126 — the oracle spells the threshold as the rank-k row of a
    * per-dim magnitude window; the k-th VALUE is tiebreak-invariant (same
    * multiset), so both engines agree even where ids order differently.
    * Dims with fewer than ClipK values take the LAST available rank
    * (`least(ClipK, n)`), mirroring the native `element_at(top,
    * least(k, size(top)))` fallback — without it such dims would vanish
    * from the oracle only (ADVICE r11). */
  private val b126 = entry(
    "b126_quantize_rank_clipped",
    s"""WITH flat0 AS (
       |  SELECT vec_id, UNNEST(range(len(embedding))) AS dim,
       |         UNNEST(embedding) AS f
       |  FROM embeddings),
       |flat AS (SELECT vec_id, dim, CAST(f AS DOUBLE) AS v FROM flat0),
       |ranked AS (
       |  SELECT dim, abs(v) AS av,
       |         row_number() OVER (PARTITION BY dim
       |                            ORDER BY abs(v) DESC, vec_id) AS rnk,
       |         count(*) OVER (PARTITION BY dim) AS nv
       |  FROM flat),
       |thr AS (SELECT dim, av AS thr FROM ranked
       |        WHERE rnk = least($ClipK, nv)),
       |q AS (
       |  SELECT f.dim, f.v, t.thr,
       |         CASE WHEN t.thr = 0.0 THEN 0
       |              ELSE CAST(floor(greatest(-127.0,
       |                     least(127.0, f.v * 127.0 / t.thr)) + 0.5) AS INT)
       |         END AS code
       |  FROM flat f JOIN thr t USING (dim))
       |SELECT CAST(dim AS BIGINT) AS dim,
       |       max(thr) AS scale_f,
       |       count(*) AS n_vals,
       |       CAST(sum(CASE WHEN abs(code) = 127 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_sat,
       |       CAST(sum(CASE WHEN thr = 0.0 THEN 0
       |                ELSE CAST(floor(abs(v - code * thr / 127.0) * $ErrFp)
       |                          AS BIGINT) END) AS BIGINT) AS sum_abs_err_fp
       |FROM q GROUP BY dim ORDER BY dim""".stripMargin) { (s, d) =>
    clippedDimStats(Tables.embeddings(s, d))
  }

  /** Floor for quantized-ANN recall@10 in basis points: measured
    * 9450/9050/9650 at sf0.001/0.01/0.1 (deterministic — no randomness
    * anywhere in the path), floored at 8500 so a corpus regeneration
    * can't flake the gate while a real quantization regression (codes,
    * clipping, scale handling) still turns the driver row red. Same
    * convention as the LSH-rule gate's MinRecallBp. */
  val MinAnnRecallBp = 8500L

  /** B127 — the end-to-end answer to "is int8 enough for serving": exact
    * cosine top-10 for the b44 probe set, ranked once on float vectors
    * (ground truth) and once on B126 rank-clipped int8 RECONSTRUCTIONS
    * (x̂ = clamp-quantized code · thr/127, materialized per row by one
    * zip_with against the broadcast-literal per-dim threshold vector).
    * Reports recall@10 in integer basis points and FAILS the driver row
    * below the floor — a quantization-quality regression turns red, the
    * b44_lsh_rule_recall convention. Approximate by design → rows-only.
    *
    * Scale posture: thresholds are O(dim) driver scalars (the sanctioned
    * collect); dequantization is map-side; each ranking is the b44
    * broadcast-probe plan. The quadratic exact pass is the measurement
    * harness at gate SFs — production audits recall on a sampled slice. */
  private val b127 = entryNoOracle("b127_quantized_ann_recall") { (s, d) =>
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val thr = clippedDimStats(emb).select(col("dim"), col("scale_f"))
      .collect().sortBy(_.getLong(0)).map(_.getDouble(1))
    val thrArr = array(thr.map(lit(_)): _*)
    val deq = emb.withColumn("sc", thrArr)
      .select(col("vec_id"), expr(
        "zip_with(embedding, sc, (x, t) -> CASE WHEN t = 0D THEN 0D " +
          "ELSE CAST(CAST(floor(greatest(-127.0, least(127.0, " +
          "CAST(x AS DOUBLE) * 127.0 / t)) + 0.5) AS INT) AS DOUBLE) " +
          "* t / 127.0 END)").as("embedding"))
    def top10(df: DataFrame): Set[(Long, Long)] = {
      val v = df.select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("norm", sqrt(expr("dot_f64(v, v)")))
      val probes = v.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"),
          col("norm").as("pnorm"))
      val corpus = v.select(col("vec_id").as("neighbor_id"),
        col("v").as("cv"), col("norm").as("cnorm"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      corpus.join(broadcast(probes), col("probe_id") =!= col("neighbor_id"))
        .withColumn("cos",
          expr("dot_f64(pv, cv)") / (col("pnorm") * col("cnorm")))
        .select(col("probe_id"), col("neighbor_id"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 10)
        .select(col("probe_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val exact = top10(emb)
    val approx = top10(deq)
    require(exact.nonEmpty, "no probes in corpus")
    // n_probes is MEASURED (distinct probe ids in the exact result), not
    // assumed from |exact|/10, and must match the probe population the
    // corpus declares — a re-keyed or shrunken corpus fails loudly here
    // instead of silently truncating the recall denominator (ADVICE r11)
    val nProbes = exact.map(_._1).size.toLong
    val expectedProbes = emb.filter(col("vec_id") < 20).count()
    require(nProbes == expectedProbes,
      s"probe population mismatch: $nProbes probes produced exact top-10 " +
        s"lists but the corpus holds $expectedProbes vec_ids < 20")
    val hits = (exact intersect approx).size.toLong
    val recallBp = hits * 10000L / exact.size
    require(recallBp >= MinAnnRecallBp,
      s"quantized ANN recall $recallBp bp < floor $MinAnnRecallBp bp " +
        s"($hits of ${exact.size} exact top-10 slots recovered)")
    import s.implicits._
    Seq((nProbes, 10, hits, recallBp))
      .toDF("n_probes", "k", "n_hits", "recall_bp")
  }

  /** B247 — the Achlioptas sparse random projection (see
    * [[graft.functions.RandomProjectExpression]] for the model and the
    * exactness contract) as a corpus pass over the embeddings table:
    * (vec_id, k, y_fp) in long form, 64 dims → 16.
    *
    * Scale posture: the projection is one map-side codegen expression per
    * vector (zero exchanges before the presentation explode/sort,
    * spec-asserted on [[projected]]); at 100 TB the output is 16 BIGINTs
    * per vector — a 4× narrower relation for distance-sketching, with the
    * JL distance guarantee CorpusBudgetSpec sanity-pins (median pairwise
    * distortion ≈ 1).
    *
    * NEGATIVE RESULT (r15, measured): a b127-style top-10 RECALL gate in
    * the projected space was evaluated and rejected — this fixture's
    * embeddings are isotropic (near-uniform pairwise cosines), so K = 16
    * preserves distance DISTRIBUTIONS but not neighbor RANKS: raw
    * projected-space recall@10 is 450/400/150 bp at sf0.001/0.01/0.1 and
    * even a shortlist-200 + exact-rerank two-stage reaches only
    * 6000/5950/3050 bp, degrading with corpus size. Rank-based gates are
    * the wrong property for JL at this K; the distortion pin is the right
    * one. (The b84/b44 IVF/PQ rows carry the serving-grade recall gates —
    * their quantizers exploit what structure the data has instead of a
    * data-oblivious projection.) */
  def projected(emb: DataFrame): DataFrame = {
    emb.select(col("vec_id"), expr("random_project(embedding)").as("y"))
  }

  private val b247 = entry(
    "b247_random_projection",
    s"""WITH x AS (
       |  SELECT vec_id, j - 1 AS j,
       |         -- CAST to DOUBLE first: bare float*int runs in float32 in
       |         -- DuckDB, while the JVM side promotes to double
       |         CAST(floor(CAST(embedding[j] AS DOUBLE) * 10000 + 0.5)
       |              AS BIGINT) AS q
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(j)),
       |r AS (
       |  SELECT x.vec_id, v.k, x.q,
       |         (((x.j * ${graft.functions.RandomProjectExpression.K} + v.k + 1)
       |           * 2654435761) % 2147483648) % 6 AS h
       |  FROM x, unnest(generate_series(0,
       |    ${graft.functions.RandomProjectExpression.K - 1})) AS v(k))
       |SELECT vec_id, CAST(k AS BIGINT) AS k,
       |       CAST(sum(q * (CASE WHEN h = 0 THEN 1 WHEN h = 1 THEN -1
       |                          ELSE 0 END)) AS BIGINT) AS y_fp
       |FROM r GROUP BY vec_id, k
       |ORDER BY vec_id, k""".stripMargin, bench = true) { (s, d) =>
    projected(Tables.embeddings(s, d))
      .select(col("vec_id"), posexplode(col("y")))
      .select(col("vec_id"), col("pos").cast("long").as("k"),
        col("col").as("y_fp"))
      .orderBy("vec_id", "k")
  }

  /** B251 — LABEL-CENTROID SEPARABILITY (the embedding-QA report every
    * labeled corpus ships — a Fisher-style between/within scatter table,
    * Fisher 1936 by way of every probing paper's "are the classes even
    * separable" sanity check): per label, the exact fixed-point centroid
    * (bp-quantized elements, the B247 convention incl. the DOUBLE
    * promotion; sums div n TRUNCATE identically in both engines — the r14
    * `//` lesson, no sign correction needed on negative sums) and the
    * within-label scatter r² = ssq div n − Σc² (the floor-div spelling of
    * E‖x‖² − ‖c‖², committed identically both sides); per label pair, the
    * squared centroid distance and separation_bp = dist²·10⁴ div
    * (r²_a + r²_b) — the Fisher-criterion shape in exact BIGINT.
    *
    * Scale posture: everything collapses map-side — (label, dim) sums and
    * per-label ssq are map-combinable partials (shuffle carries
    * |labels|·dim rows per task, never vectors), centroids/radii are
    * |labels|-sized broadcasts, the pair join runs on a 640-row relation.
    * Overflow: q ≤ 10⁴ ⇒ ssq ≤ n·dim·10⁸ — BIGINT-safe past 10⁹ vectors. */
  private val b251 = entry(
    "b251_label_centroid_separation",
    """WITH x AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label, j - 1 AS dim,
      |         CAST(floor(CAST(embedding[j] AS DOUBLE) * 10000 + 0.5)
      |              AS BIGINT) AS q
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(j)),
      |n AS (SELECT label, CAST(count(DISTINCT vec_id) AS BIGINT) AS n
      |      FROM x GROUP BY 1),
      |s AS (SELECT label, dim, CAST(sum(q) AS BIGINT) AS s
      |      FROM x GROUP BY 1, 2),
      |cen AS (SELECT s.label, s.dim, CAST(s.s // n.n AS BIGINT) AS c
      |        FROM s JOIN n USING (label)),
      |ssq AS (SELECT label, CAST(sum(q * q) AS BIGINT) AS ssq
      |        FROM x GROUP BY 1),
      |cc AS (SELECT label, CAST(sum(c * c) AS BIGINT) AS c2
      |       FROM cen GROUP BY 1),
      |rad AS (
      |  SELECT n.label, CAST(ssq.ssq // n.n - cc.c2 AS BIGINT) AS r2
      |  FROM n JOIN ssq USING (label) JOIN cc USING (label)),
      |pd AS (
      |  SELECT a.label AS la, b.label AS lb,
      |         CAST(sum((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS dist2
      |  FROM cen a JOIN cen b ON a.dim = b.dim AND a.label < b.label
      |  GROUP BY 1, 2)
      |SELECT la, lb, dist2, ra.r2 AS r2_a, rb.r2 AS r2_b,
      |       CAST(dist2 * 10000 // (ra.r2 + rb.r2) AS BIGINT)
      |         AS separation_bp
      |FROM pd JOIN rad ra ON ra.label = pd.la
      |JOIN rad rb ON rb.label = pd.lb
      |ORDER BY la, lb""".stripMargin) { (s, d) =>
    val x = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(col("embedding")))
      .select(col("vec_id"), col("label"), col("pos").cast("long").as("dim"),
        expr("CAST(floor(CAST(col AS DOUBLE) * 10000 + 0.5) AS BIGINT)")
          .as("q"))
      .localCheckpoint(true) // feeds three aggregates
    val n = x.groupBy("label").agg(countDistinct("vec_id").as("n"))
    val cen = x.groupBy("label", "dim").agg(sum("q").as("s"))
      .join(broadcast(n), "label")
      .select(col("label"), col("dim"), expr("CAST(s div n AS BIGINT)").as("c"))
      .localCheckpoint(true) // feeds cc + the pair join (x2)
    val ssq = x.groupBy("label").agg(sum(col("q") * col("q")).as("ssq"))
    val cc = cen.groupBy("label").agg(sum(col("c") * col("c")).as("c2"))
    val rad = n.join(ssq, "label").join(cc, "label")
      .select(col("label"), expr("CAST(ssq div n - c2 AS BIGINT)").as("r2"))
    val pd = cen.as("a")
      .join(cen.as("b"),
        col("a.dim") === col("b.dim") && col("a.label") < col("b.label"))
      .groupBy(col("a.label").as("la"), col("b.label").as("lb"))
      .agg(sum((col("a.c") - col("b.c")) * (col("a.c") - col("b.c")))
        .as("dist2"))
    pd
      .join(broadcast(rad.select(col("label").as("la"), col("r2").as("r2_a"))),
        "la")
      .join(broadcast(rad.select(col("label").as("lb"), col("r2").as("r2_b"))),
        "lb")
      .select(col("la"), col("lb"), col("dist2"), col("r2_a"), col("r2_b"),
        expr("CAST(dist2 * 10000 div (r2_a + r2_b) AS BIGINT)")
          .as("separation_bp"))
      .orderBy("la", "lb")
  }

  /** B284 outlier rule: d² > [[OutlierMul]]·mean(d²) — distance beyond
    * 2× the label's RMS radius. */
  val OutlierMul = 4L

  /** B284 planted-corruption stride and id offset. */
  val CorruptMod = 97L
  val CorruptIdOffset = 100000L

  /** B284 — EMBEDDING-SPACE OUTLIER AUDIT (the quality gate that runs
    * BEFORE any semantic operator trusts the vectors: a mis-scaled,
    * garbage, or wrong-model embedding poisons SemDeDup cells, IVF
    * centroids and ANN recall alike, and none of those operators would
    * report it — they would just quietly degrade): per (leg, label),
    * every vector's integer L2² distance to its label's integer-mean
    * centroid, the label's size/mean d², the count beyond the
    * [[OutlierMul]]·mean radius, and the top-3 most distant vectors.
    *
    * Two legs (the b258/b281 planted convention): `clean` — the
    * embeddings as shipped (organic outlier counts reported honestly);
    * `planted` — the same table plus every vec_id % [[CorruptMod]] = 0
    * vector re-quantized at 3× scale (a wrong-normalization corruption:
    * same direction, tripled magnitude — the classic mixed-model-version
    * accident), which the audit must flag. The corruption is injected
    * INSIDE the quantizer (scale 381 vs 127 on casts to double), so no
    * float arithmetic ever diverges between engines.
    *
    * Integer-exact: [[SemDedup.QuantScale]] quantization, floor-mean
    * centroids (contamination shifts the mean — the audit still
    * separates because 3× magnitude dominates), BIGINT d².
    *
    * Scale posture: two (leg, label, dim)-keyed map-combinable sums
    * build centroids (|labels|·dim rows — catalog-sized); d² is one
    * (label, dim)-keyed broadcast join over the exploded vectors + a
    * vec_id-keyed sum; stats are a |labels|-row rollup; top-3 is a rank
    * window per (leg, label) group (the B29 top-k-per-group pattern,
    * never a global sort). */
  private val b284 = entry(
    "b284_embedding_outliers",
    s"""WITH legs AS (
       |  SELECT 'clean' AS leg, vec_id, label, embedding, 127 AS scale
       |  FROM embeddings
       |  UNION ALL
       |  SELECT 'planted', vec_id, label, embedding, 127 FROM embeddings
       |  UNION ALL
       |  SELECT 'planted', vec_id + $CorruptIdOffset, label, embedding, 381
       |  FROM embeddings WHERE vec_id % $CorruptMod = 0),
       |q0 AS (
       |  SELECT leg, vec_id, label, scale,
       |         UNNEST(range(len(embedding))) AS pos,
       |         UNNEST(embedding) AS x
       |  FROM legs),
       |q AS (
       |  SELECT leg, vec_id, label, pos,
       |         CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT) AS q
       |  FROM q0),
       |cent AS (
       |  SELECT leg, label, pos,
       |         CAST(sum(q) // count(*) AS BIGINT) AS c
       |  FROM q GROUP BY leg, label, pos),
       |d AS (
       |  SELECT q.leg, q.vec_id, q.label,
       |         CAST(sum((q.q - cent.c) * (q.q - cent.c)) AS BIGINT) AS d2
       |  FROM q JOIN cent ON cent.leg = q.leg AND cent.label = q.label
       |                  AND cent.pos = q.pos
       |  GROUP BY q.leg, q.vec_id, q.label),
       |st AS (
       |  SELECT leg, label, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(d2) // count(*) AS BIGINT) AS mean_d2
       |  FROM d GROUP BY leg, label),
       |fl AS (
       |  SELECT d.*, st.n, st.mean_d2,
       |         CASE WHEN d.d2 > $OutlierMul * st.mean_d2 THEN 1 ELSE 0 END
       |           AS is_out
       |  FROM d JOIN st ON st.leg = d.leg AND st.label = d.label),
       |no AS (
       |  SELECT leg, label, CAST(sum(is_out) AS BIGINT) AS n_out
       |  FROM fl GROUP BY leg, label),
       |r AS (
       |  SELECT fl.leg, fl.label, fl.vec_id, fl.d2, fl.n, fl.mean_d2,
       |         no.n_out,
       |         CAST(row_number() OVER (PARTITION BY fl.leg, fl.label
       |                                 ORDER BY fl.d2 DESC, fl.vec_id)
       |              AS BIGINT) AS rn
       |  FROM fl JOIN no ON no.leg = fl.leg AND no.label = fl.label)
       |SELECT leg, CAST(label AS BIGINT) AS label, rn, vec_id, d2, n,
       |       mean_d2, n_out
       |FROM r WHERE rn <= 3 ORDER BY leg, label, rn""".stripMargin,
    bench = true) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, d)
    // plant-id collision guard (ADVICE r17 #3): the offset is safe at the
    // shipped SFs (vec_id <= 1999) but a larger dataset could alias a
    // planted id onto a real vector, silently merging two vectors' rows
    // into one d2 group — assert at plan-build so scale-up fails loudly
    // instead of corrupting the audit (bounded driver scalar: one max)
    val maxVecId = emb.agg(max(col("vec_id")).cast("long")).head.getLong(0)
    require(maxVecId < CorruptIdOffset,
      s"b284: max(vec_id)=$maxVecId collides with CorruptIdOffset=" +
        s"$CorruptIdOffset — raise the offset for this dataset")
    val legs = emb.select(lit("clean").as("leg"), col("vec_id"),
        col("label"), col("embedding"), lit(127L).as("scale"))
      .unionByName(emb.select(lit("planted").as("leg"), col("vec_id"),
        col("label"), col("embedding"), lit(127L).as("scale")))
      .unionByName(emb.filter(col("vec_id") % CorruptMod === 0)
        .select(lit("planted").as("leg"),
          (col("vec_id") + CorruptIdOffset).as("vec_id"),
          col("label"), col("embedding"), lit(381L).as("scale")))
    val q = legs.select(col("leg"), col("vec_id"), col("label"),
        col("scale"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("leg"), col("vec_id"), col("label"), col("pos"),
        expr("CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)")
          .as("q"))
    val cent = q.groupBy("leg", "label", "pos")
      .agg(expr("CAST(sum(q) div count(*) AS BIGINT)").as("c"))
    val d2 = q.join(broadcast(cent), Seq("leg", "label", "pos"))
      .groupBy("leg", "vec_id", "label")
      .agg(sum(expr("(q - c) * (q - c)")).as("d2"))
    val st = d2.groupBy("leg", "label")
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(d2) div count(*) AS BIGINT)").as("mean_d2"))
    val fl = d2.join(broadcast(st), Seq("leg", "label"))
      .withColumn("is_out",
        when(col("d2") > lit(OutlierMul) * col("mean_d2"), 1L).otherwise(0L))
    val no = fl.groupBy("leg", "label").agg(sum("is_out").as("n_out"))
    val w = Window.partitionBy(col("leg"), col("label"))
      .orderBy(col("d2").desc, col("vec_id"))
    fl.join(broadcast(no), Seq("leg", "label"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("leg"), col("label").cast("long").as("label"), col("rn"),
        col("vec_id"), col("d2"), col("n"), col("mean_d2"), col("n_out"))
      .orderBy("leg", "label", "rn")
  }

  val entries: Seq[Entry] = Seq(b123, b126, b127, b247, b251, b284)
}
