package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.QueryScope
import graft.sources.Tables

/** SEMANTIC deduplication over the embedding column (SURVEY §2B round-7
  * row B99) — the SemDeDup pass (Abbas et al. 2023): cluster the corpus's
  * embeddings, then inside each cluster drop every member of a
  * cosine-similar group except one representative. This catches
  * paraphrase-level duplicates that the lexical passes (B42 exact, B43/B90
  * shingle-Jaccard, B93 spans) can never see, because the evidence lives
  * in embedding space, not in shared n-grams.
  *
  * Engine-exact by construction — every comparison is BIGINT arithmetic:
  *
  *   1. QUANTIZE: q_i = floor(x_i · 127 + 0.5) per coordinate (float →
  *      double widening is exact, floor is exact, so both engines and the
  *      JVM produce bit-identical integer vectors — the rounding spelling
  *      dodges the round-half cross-engine ambiguity);
  *   2. SEED: the K centroids are the K embeddings with the smallest
  *      (polyfold("sem:"‖vec_id), vec_id) — the B56/B59/B98
  *      pure-function-of-the-key rule, so the clustering is rerun- and
  *      engine-stable (the IVF-style sampled quantizer, Ivf.centroids'
  *      pattern, in oracle-replicable arithmetic). DOCUMENTED
  *      DEGENERACY: on short sequential ids the 40-bit fold never wraps
  *      (h is strictly increasing in key length), so the seeds reduce to
  *      ids 0..K−1; production UUID/snowflake keys mix fully, and B102's
  *      Lloyd refinement (IntKMeans.refineSeeds) repairs seed placement
  *      regardless — compose it when cluster quality matters;
  *   3. ASSIGN map-side: cell = argmin over seeds of the integer L2
  *      distance Σ(q−c)², tiebreak smallest seed id. The K seed vectors
  *      are collected (O(K·dim) scalars — the b84 distance-table rule)
  *      and embedded as a literal array, so assignment runs inside the
  *      scan's stage with ZERO exchange (spec-asserted);
  *   4. EDGES within cells only: pair (a,b) is a duplicate iff
  *      dot(qa,qb) > 0 and 10⁴·dot² ≥ 1849·|qa|²·|qb|² — the integer
  *      cross-product spelling of cos ≥ 0.43 (1849/10⁴ = 0.43², reduced
  *      by gcd 10⁴ from 4300²/10⁸ to keep the worst case ≈ 10⁴·(d·127²)²
  *      inside BIGINT for d ≤ 64 — the b58/b22/b85 no-float-fractions
  *      rule, so the threshold has NO boundary drift at all);
  *   5. RESOLVE: B63 connected components inside each cell; the
  *      representative is the component's min vec_id (the B75/B90 rule).
  *
  * The entry's τ = 0.43 sits below this corpus's organic cosine ceiling
  * (max pair 0.512 at sf0.01) so the dedup path observably fires — the
  * b90 calibration rule; production corpora run τ ≈ 0.95+.
  *
  * Scale posture (100 TB): seeds are a TakeOrderedAndProject top-K
  * (O(K) driver scalars); assignment is map-side expression work — the
  * corpus is never shuffled to be clustered; the within-cell self-join
  * is SemDeDup's defining cost, O(Σ cell²), bounded by growing K ∝ N so
  * cell size stays constant (the paper runs K = 50k on LAION-440M);
  * components are B63's O(log d) pointer-jumping rounds. Cross-cell
  * near-duplicates are invisible by design — that is SemDeDup's
  * documented approximation, not a defect of this implementation.
  */
object SemDedup {

  /** Quantization scale: |x| ≤ 1 maps into [-127, 127]. */
  val QuantScale = 127

  /** τ² as a reduced BIGINT rational num/den (0.43² = 1849/10⁴). */
  val TauNum = 1849L
  val TauDen = 10000L

  /** (vec_id, qv BIGINT[], qq = |qv|²) — exact in both engines. The
    * norm is the native dot_i64 (integer sums are order-insensitive, so
    * the fused loop is bit-equal to any fold spelling). */
  def quantize(embeddings: DataFrame): DataFrame = {
    embeddings.select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * QuantScale + lit(0.5d)).cast("long"))
          .as("qv"))
      .withColumn("qq", expr("dot_i64(qv, qv)"))
  }

  /** K deterministic seeds: smallest (polyfold("sem:"‖vec_id), vec_id).
    * Executes as TakeOrderedAndProject — streaming top-K, no sort. */
  def seeds(quantized: DataFrame, k: Int): DataFrame = {
    val key = "concat('sem:', CAST(vec_id AS STRING))"
    quantized
      .orderBy(expr(Winnowing.polyFoldSpark(key)), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("cid"), col("qv").as("cv"))
  }

  /** Map-side cell assignment: the collected seed set (O(K·dim) scalars)
    * is unrolled as K literal vectors; argmin of the integer L2 distance
    * = `least` over K (sqdist_i64, cid) structs (lexicographic struct
    * compare — distance then seed-id tiebreak), one fused codegen'd
    * projection with no exchange and no interpreted lambdas. */
  def assignCells(quantized: DataFrame, seedRows: Array[(Long, Seq[Long])]): DataFrame = {
    require(seedRows.nonEmpty, "assignCells needs at least one seed")
    val cand = seedRows.toIndexedSeq.map { case (cid, cv) =>
      val arr = cv.mkString("array(", "L, ", "L)")
      expr(s"struct(sqdist_i64(qv, $arr) AS d2, ${cid}L AS cid)")
    }
    val best =
      (if (cand.size == 1) cand.head else least(cand: _*)).getField("cid")
    quantized.withColumn("cell", best)
  }

  /** Full SemDeDup manifest: (vec_id, cell, rep_id, kept) for EVERY
    * vector, vec_id order. kept = "is its component's representative". */
  def semDedup(embeddings: DataFrame, k: Int = 8,
      tauNum: Long = TauNum, tauDen: Long = TauDen): DataFrame = {
    val q = quantize(embeddings)
    val seedRows = seeds(q, k).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    // cells is consumed three times (both self-join sides + the final
    // manifest join); materialize the one quantize+assign pass instead
    // of re-running it per consumer (the b93 lesson)
    val cells = QueryScope.materialize("cells")(assignCells(q, seedRows))

    val a = cells.select(col("vec_id").as("u"), col("qv").as("qva"),
      col("qq").as("qa"), col("cell"))
    val b = cells.select(col("vec_id").as("v"), col("qv").as("qvb"),
      col("qq").as("qb"), col("cell"))
    val dp = expr("dot_i64(qva, qvb)")
    val edges = a.join(b, Seq("cell"))
      .filter(col("u") < col("v"))
      .withColumn("dp", dp)
      .filter(col("dp") > 0 &&
        lit(tauDen) * col("dp") * col("dp") >= lit(tauNum) * col("qa") * col("qb"))
      .select(col("u").as("a"), col("v").as("b"))

    val comp = graft.operators.GraphOps
      .connectedComponents(edges, cells.select(col("vec_id").as("n")))
    cells.select("vec_id", "cell")
      .join(comp, col("vec_id") === col("n"))
      .select(col("vec_id"), col("cell"), col("component").as("rep_id"),
        (col("vec_id") === col("component")).as("kept"))
      .orderBy("vec_id")
  }

  /** B99 — semantic dedup manifest over the embeddings table. The oracle
    * replays all five stages exactly (quantize → polyfold seeds → argmin
    * assign → integer-threshold edges → recursive-CTE closure). */
  private val b99 = entry(
    "b99_dedup_semantic",
    s"""WITH RECURSIVE
       |q AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(floor(CAST(x AS DOUBLE) * $QuantScale + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |qs AS (
       |  SELECT vec_id, qv,
       |         list_reduce(list_prepend(0::BIGINT, list_transform(qv, x -> x * x)),
       |                     (a, c) -> a + c) AS qq
       |  FROM q),
       |seeds AS (
       |  SELECT vec_id AS cid, qv AS cv FROM q
       |  ORDER BY ${Winnowing.polyFoldDuck("('sem:' || CAST(vec_id AS VARCHAR))")}, vec_id
       |  LIMIT 8),
       |assign AS (
       |  SELECT vec_id, qq, qv, cid,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |  FROM (
       |    SELECT s.vec_id, s.qq, s.qv, c.cid,
       |           list_reduce(list_prepend(0::BIGINT,
       |             list_transform(generate_series(1, len(s.qv)),
       |                            j -> (s.qv[j] - c.cv[j]) * (s.qv[j] - c.cv[j]))),
       |             (a, b) -> a + b) AS d2
       |    FROM qs s CROSS JOIN seeds c)),
       |cells AS (SELECT vec_id, qq, qv, cid AS cell FROM assign WHERE rn = 1),
       |dots AS (
       |  SELECT a.vec_id AS u, b.vec_id AS v, a.qq AS qa, b.qq AS qb,
       |         list_reduce(list_prepend(0::BIGINT,
       |           list_transform(generate_series(1, len(a.qv)),
       |                          j -> a.qv[j] * b.qv[j])),
       |           (x, y) -> x + y) AS dp
       |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |qual AS (
       |  SELECT u, v FROM dots
       |  WHERE dp > 0 AND $TauDen * dp * dp >= $TauNum * qa * qb),
       |edges(a, b) AS (SELECT u, v FROM qual UNION SELECT v, u FROM qual),
       |reach(n, m) AS (
       |  SELECT vec_id, vec_id FROM cells
       |  UNION
       |  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m)
       |SELECT c.vec_id, c.cell, rep.rep_id,
       |       CAST(c.vec_id = rep.rep_id AS BOOLEAN) AS kept
       |FROM cells c
       |JOIN (SELECT n, min(m) AS rep_id FROM reach GROUP BY n) rep
       |  ON rep.n = c.vec_id
       |ORDER BY c.vec_id""".stripMargin, bench = true) { (s, d) =>
    semDedup(Tables.embeddings(s, d).select("vec_id", "embedding"))
  }

  val entries: Seq[Entry] = Seq(b99)
}
