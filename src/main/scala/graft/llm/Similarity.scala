package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.QueryScope
import graft.sources.Tables

/** Embedding similarity search (SURVEY B44): brute-force cosine top-k as
  * the exact t2-checked baseline, and a deterministic random-hyperplane LSH
  * variant as the scale path.
  *
  * Scale posture: the brute-force path broadcasts the (small) probe set and
  * streams the corpus map-side — one narrow pass plus a per-probe top-k
  * window; cost O(|probes|·n). That is the right plan when probes are few.
  * For all-pairs or large probe sets, [[candidatePairs]] hashes vectors by
  * sign-pattern of deterministic hyperplane projections (the native
  * [[graft.functions.SignLshBandsExpression]]), so candidates are
  * generated per bucket (sub-quadratic), then verified with exact cosine —
  * same verify-after-candidates shape as MinHash dedup.
  */
object Similarity {

  /** Double-precision dot product via the native codegen
    * [[graft.functions.DotProductExpression]] — same left-to-right
    * summation order as DuckDB's list_dot_product (bit-identical values),
    * but a fused primitive loop instead of two interpreted HOF lambdas
    * per element. Provided by [[graft.functions.Natives]]. */
  private def dot(a: String, b: String) = expr(s"dot_f64($a, $b)")

  private def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("norm", sqrt(dot("v", "v")))

  /** B44 — exact brute-force cosine top-10 for probe vectors (vec_id < 20). */
  private val b44 = entry(
    "b44_similarity_bruteforce",
    """WITH v AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      |  FROM embeddings),
      |pairs AS (
      |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
      |         list_dot_product(p.v, c.v) / (p.norm * c.norm) AS cos
      |  FROM v p JOIN v c ON p.vec_id < 20 AND p.vec_id <> c.vec_id)
      |SELECT probe_id, neighbor_id, round(cos, 4) AS cosine, rn FROM (
      |  SELECT probe_id, neighbor_id, cos,
      |         CAST(row_number() OVER (PARTITION BY probe_id
      |           ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rn
      |  FROM pairs) t
      |WHERE rn <= 10 ORDER BY probe_id, rn""".stripMargin, bench = true) { (s, d) =>
    val v = withNorm(Tables.embeddings(s, d))
    val probes = v.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pnorm"))
    val corpus = v.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
      col("norm").as("cnorm"))
    // per-probe top-10 via B87's bounded-state TopKAgg (VERDICT r19 item
    // 6): map-side combine reduces each scan partition to ≤ k (cos, id)
    // pairs per probe BEFORE the exchange, so the shuffle carries
    // probes·k rows — the rank-window spelling (kept as the oracle)
    // shuffles and sorts the full |corpus|·|probes| expanded relation.
    // Same total order (cos DESC, id ASC — TopKAgg's insert order), so
    // the rows are identical.
    val topk = udaf(graft.functions.TopKAgg(10))
    corpus.join(broadcast(probes), col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos", dot("pv", "cv") / (col("pnorm") * col("cnorm")))
      .groupBy(col("probe_id"))
      .agg(topk(col("cos"), col("neighbor_id")).as("top"))
      .select(col("probe_id"), posexplode(col("top")))
      .select(col("probe_id"), col("col._2").as("neighbor_id"),
        round(col("col._1"), 4).as("cosine"),
        (col("pos") + 1).cast("int").as("rn"))
      .orderBy("probe_id", "rn")
  }

  val NumPlanes: Int = graft.functions.SignLshBandsExpression.NumPlanes
  val Bands: Int = graft.functions.SignLshBandsExpression.Bands
  val BitsPerBand: Int = NumPlanes / Bands

  /** Candidate pairs sharing at least one sign-pattern band (a<b). Banding
    * trades one exact 16-bit match (high precision, poor recall) for 4
    * independent 4-bit matches — identical vectors still collide with
    * probability 1 (identical projections → identical signs). Oversize
    * buckets are dropped before the self-join ([[LshCaps.capBuckets]]).
    *
    * Band-bucket keys come from the native
    * [[graft.functions.SignLshBandsExpression]] — one fused JVM loop per
    * row (16 deterministic splitmix64 hyperplanes) instead of the
    * interpreted 16-plane aggregate/zip_with HOF stack this used in r2,
    * and the SAME hyperplane family the [[graft.plans.CosineLshRewrite]]
    * optimizer rescue injects, so the library path and the rewritten
    * naive path generate identical candidates. */
  def candidatePairs(embeddings: DataFrame,
      bucketCap: Option[Int] = Some(LshCaps.DefaultBucketCap)): DataFrame = {
    // posexplode_outer: constant 4-element band array, never empty (and
    // the non-outer Generate guard would re-evaluate it per row)
    val banded = embeddings
      .select(col("vec_id"), posexplode_outer(expr("sign_lsh_bands(embedding)")))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("bucket"))
    LshCaps.bandedCandidates(banded, "vec_id", bucketCap)
      .select(col("vec_id_a").as("a"), col("vec_id_b").as("b"))
  }

  /** Exact cosine for candidate pairs, thresholded. */
  def verifyCosine(cands: DataFrame, embeddings: DataFrame, threshold: Double): DataFrame = {
    val v = withNorm(embeddings)
    cands
      .join(v.select(col("vec_id").as("a"), col("v").as("va"), col("norm").as("na")), "a")
      .join(v.select(col("vec_id").as("b"), col("v").as("vb"), col("norm").as("nb")), "b")
      .withColumn("cos", dot("va", "vb") / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), round(col("cos"), 4).as("cosine"))
  }

  /** B44 scale path — embedding-cosine near-dup via banded sign-LSH over a
    * corpus with injected duplicate vectors (the testdata's max pairwise
    * cosine is 0.51, so true near-dups are planted: vec_id<10 re-appear
    * shifted by 1e6; LSH must surface them at cosine 1.0). Approximate by
    * design → no SQL oracle; recall properties in SimilaritySpec. */
  private val b44lsh = entryNoOracle("b44_similarity_lsh") { (s, d) =>
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val withDups = base.unionByName(
      base.filter(col("vec_id") < 10)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    verifyCosine(candidatePairs(withDups), withDups, threshold = 0.9)
      .orderBy("a", "b")
  }

  /** Recall floor for [[b44recall]] in basis points. Sign-LSH with 4×4-bit
    * bands at τ=0.3 (θ≈72°) has per-pair collision probability ≈0.4-0.6
    * on this corpus; the projections are DETERMINISTIC, so the measured
    * recall is a fixed number for a given corpus and any drop below the
    * floor is a code regression (in the rule, the bands Expression, or
    * the residual plumbing), not sampling noise. */
  private val MinRecallBp = 3000L

  /** B44++ — MEASURED RECALL of the opt-in [[graft.plans.CosineLshRewrite]]
    * (VERDICT r10 item 5): runs the SAME naive all-pairs cosine≥τ query
    * twice — rule off (exact ground truth) and rule on (banded sign-LSH
    * candidates + exact residual) — and reports recall in integer basis
    * points. τ=0.3 sits below the corpus's organic cosine ceiling (0.51),
    * so hundreds of true pairs exist whose sign patterns CAN disagree on
    * all 4 bands — recall is genuinely < 1 and the number moves if the
    * rule's quality regresses. The entry itself asserts (a) the rule fired
    * (plan carries __graft_lsh attributes), (b) precision is exactly 1
    * (every rewritten pair is in the ground truth — the residual
    * re-checks the real predicate), and (c) recall ≥ [[MinRecallBp]] —
    * so a quality regression turns this driver row red rather than
    * passing rows-only.
    *
    * Approximate/engine-local by design → no SQL oracle (DuckDB has no
    * sign-LSH); the ground-truth side IS the in-entry oracle. The
    * quadratic exact join is the measurement harness, affordable at gate
    * SFs; at 100 TB recall is audited the same way on a sampled slice,
    * never the full corpus. */
  private val b44recall = entryNoOracle("b44_lsh_rule_recall") { (s, d) =>
    // Sessions.local sessions are extension-less — install the rule there
    // (no-op under GraftExtensions; see RuleInstall's idempotence note)
    graft.plans.RuleInstall.ensure(s, graft.plans.CosineLshRewrite)
    val tau = 0.3
    val v = withNorm(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
    val a = v.select(col("vec_id").as("a"), col("v").as("va"), col("norm").as("na"))
    val b = v.select(col("vec_id").as("b"), col("v").as("vb"), col("norm").as("nb"))
    def pairs = a.crossJoin(b).filter(
      col("a") < col("b") &&
        dot("va", "vb") / (col("na") * col("nb")) >= lit(tau))
      .select(col("a"), col("b"))
    val exact = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Cardinality contract for the two driver collects in this gate
    // (VERDICT r13): qualifying pairs at τ are bounded by the corpus's
    // organic cosine structure — hundreds at the gate SFs, and the gate
    // is only ever run on a gate-SF slice (scaladoc above), never a full
    // production corpus. The require turns a silent driver-memory hazard
    // into a loud contract breach if either assumption drifts.
    require(exact.size <= 1000000,
      s"recall-gate ground truth ${exact.size} pairs exceeds the driver-side " +
        "bound — run the audit on a sampled slice, not this corpus")
    s.conf.set("spark.graft.cosineLshRewrite.enabled", "true")
    val (got, fired) = try {
      val df = pairs
      val f = df.queryExecution.optimizedPlan.toString.contains("__graft_lsh")
      (df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet, f)
    } finally s.conf.unset("spark.graft.cosineLshRewrite.enabled")
    require(fired, "CosineLshRewrite did not fire on the naive all-pairs plan")
    val falsePos = got -- exact
    require(falsePos.isEmpty,
      s"precision violated: ${falsePos.size} rewritten pairs absent from ground truth")
    require(exact.nonEmpty, s"no qualifying pairs at tau=$tau — threshold too high for corpus")
    val recallBp = got.size.toLong * 10000L / exact.size
    require(recallBp >= MinRecallBp,
      s"LSH rule recall $recallBp bp < floor $MinRecallBp bp " +
        s"(${got.size} of ${exact.size} true pairs found)")
    import s.implicits._
    Seq((tau, exact.size.toLong, got.size.toLong, recallBp))
      .toDF("tau", "n_exact", "n_lsh", "recall_bp")
  }

  /** The b75 corpus: embeddings plus planted duplicate vectors — every
    * 5th vec_id re-appears shifted by 1e6, every 10th ALSO by 2e6, so dup
    * classes of size 2 and 3 exist and cluster resolution must close the
    * transitive triangle. The b75 oracle SQL replays the same planting;
    * SimilaritySpec re-derives it independently as a cross-check. */
  private[llm] def plantedCorpus(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    base
      .unionByName(base.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      .unionByName(base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding")))
  }

  /** B75 — embedding-cosine near-dup DEDUP (the cluster-resolution
    * counterpart of b44's pair search): sign-LSH candidates → exact cosine
    * verify at τ=0.9 → [[graft.operators.GraphOps.connectedComponents]]
    * over the surviving pairs → every vector labeled with its duplicate
    * class's canonical (minimum) id; singletons label themselves. Keeping
    * `component` rows where `vec_id = component` is the dedup'd corpus.
    *
    * Unlike b44_similarity_lsh this IS t2-hash-checked against a full SQL
    * oracle (exact all-pairs + recursive-CTE closure), because on this
    * corpus LSH recall is provably 1, not approximately 1: the testdata's
    * max organic pairwise cosine is 0.51, so the only pairs ≥ τ are the
    * planted bit-identical copies, and identical vectors produce identical
    * sign bands — they collide in EVERY band, so no qualifying pair can be
    * missed. False candidates die in the exact verify. `bucketCap = None`
    * keeps that recall proof unconditional (a capped hot bucket could drop
    * a planted pair); production corpora with unknown dup structure set
    * the cap and accept the documented hot-bucket trade (SkewCapSpec).
    *
    * Scale: candidates are O(Σ bucket²) not O(n²); verify touches only
    * candidates; components shuffle O(V+E) per round for O(log diameter)
    * rounds (diameter ≤ 2 here). The oracle's recursive closure is the
    * sf0.01 crutch, not the plan. */
  private val b75 = entry(
    "b75_dedup_embedding",
    """WITH RECURSIVE
      |base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |aug AS (
      |  SELECT vec_id, v FROM base
      |  UNION ALL SELECT vec_id + 1000000, v FROM base WHERE vec_id % 5 = 0
      |  UNION ALL SELECT vec_id + 2000000, v FROM base WHERE vec_id % 10 = 0),
      |nv AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM aug),
      |pairs AS (
      |  SELECT x.vec_id AS a, y.vec_id AS b
      |  FROM nv x JOIN nv y ON x.vec_id < y.vec_id
      |  WHERE list_dot_product(x.v, y.v) / (x.norm * y.norm) >= 0.9),
      |edges(a, b) AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
      |reach(n, m) AS (
      |  SELECT vec_id, vec_id FROM aug
      |  UNION
      |  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m)
      |SELECT n AS vec_id, min(m) AS component
      |FROM reach GROUP BY n ORDER BY vec_id""".stripMargin) { (s, d) =>
    val aug = plantedCorpus(s, d)
    val pairs = verifyCosine(candidatePairs(aug, bucketCap = None), aug, threshold = 0.9)
      .select(col("a"), col("b"))
    graft.operators.GraphOps
      .connectedComponents(pairs, aug.select(col("vec_id").as("n")))
      .select(col("n").as("vec_id"), col("component"))
      .orderBy("vec_id")
  }

  /** B165 truncation ladder (full dim = 64 is the recall reference). */
  private val MrlDims = Seq(8, 16, 32)
  private val FullDim = 64

  /** B165 — MATRYOSHKA DIMENSION-ABLATION REPORT (Kusupati et al.
    * NeurIPS'22: MRL embeddings are consumed by PREFIX — serving picks a
    * dim budget and truncates): for each truncation k, top-10 cosine
    * neighbors per probe over the FIRST k dims (renormalized), scored as
    * recall@10 against the full-dim top-10 — the table that tells a
    * serving stack how many dims it can shed. Exact t2 despite floats:
    * dot_f64 matches DuckDB's list_dot_product summation order
    * bit-for-bit (the b44 argument), so ranks and the integer overlap
    * counts are engine-identical.
    *
    * Scale posture: per k one broadcast-probe map-side pass + a per-probe
    * top-10 window (the b44 plan, k times with k-prefix slices); the
    * overlap join is O(probes·10) rows. Truncation SLICES the stored
    * vector at scan time — no re-embedding, the entire point of MRL. */
  private val b165 = entry(
    "b165_similarity_matryoshka", {
      val perK = (MrlDims :+ FullDim).map { k =>
        s"""n$k AS (
           |  SELECT $k AS k, p.vec_id AS probe_id, c.vec_id AS neighbor_id,
           |         CAST(row_number() OVER (PARTITION BY p.vec_id ORDER BY
           |           list_dot_product(list_slice(p.v, 1, $k), list_slice(c.v, 1, $k))
           |             / (sqrt(list_dot_product(list_slice(p.v, 1, $k), list_slice(p.v, 1, $k)))
           |                * sqrt(list_dot_product(list_slice(c.v, 1, $k), list_slice(c.v, 1, $k))))
           |           DESC, c.vec_id) AS INTEGER) AS rn
           |  FROM v p JOIN v c ON p.vec_id < 20 AND p.vec_id <> c.vec_id)""".stripMargin
      }.mkString(",\n")
      val unions = MrlDims.map(k =>
        s"SELECT k, probe_id, neighbor_id FROM n$k WHERE rn <= 10")
        .mkString("\nUNION ALL\n")
      s"""WITH v AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |$perK,
         |truncated AS (
         |$unions),
         |full10 AS (
         |  SELECT probe_id, neighbor_id FROM n$FullDim WHERE rn <= 10)
         |SELECT t.k, t.probe_id,
         |       CAST(count(f.neighbor_id) AS BIGINT) AS recall10
         |FROM truncated t
         |LEFT JOIN full10 f
         |  ON f.probe_id = t.probe_id AND f.neighbor_id = t.neighbor_id
         |GROUP BY t.k, t.probe_id
         |ORDER BY t.k, t.probe_id""".stripMargin
    }) { (s, d) =>
    // sliced 4× (probe+corpus per k-pass)
    val base = QueryScope.materialize("base")(Tables.embeddings(s, d)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v")))
    def top10(k: Int): DataFrame = {
      val vk = base.select(col("vec_id"),
        expr(s"slice(v, 1, $k)").as("v"))
        .withColumn("norm", sqrt(dot("v", "v")))
      val probes = vk.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"),
          col("norm").as("pnorm"))
      val corpus = vk.select(col("vec_id").as("neighbor_id"),
        col("v").as("cv"), col("norm").as("cnorm"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      corpus.join(broadcast(probes), col("probe_id") =!= col("neighbor_id"))
        .withColumn("cos", dot("pv", "cv") / (col("pnorm") * col("cnorm")))
        .select(lit(k).as("k"), col("probe_id"), col("neighbor_id"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 10)
        .drop("rn")
    }
    val truncated = MrlDims.map(top10).reduce(_ unionByName _)
    val full10 = top10(FullDim)
      .select(col("probe_id").as("fp"), col("neighbor_id").as("fn"))
    truncated
      .join(full10,
        col("fp") === col("probe_id") && col("fn") === col("neighbor_id"),
        "left")
      .groupBy("k", "probe_id")
      .agg(count(col("fn")).as("recall10"))
      .orderBy("k", "probe_id")
  }

  /** B308 — CROSS-MODAL RETRIEVAL SERVE: the page a multimodal RAG
    * actually returns — b44's exact cosine top-k per probe, each neighbor
    * joined to its DOCUMENT metadata (lang, source) and its MEDIA slot
    * kind (the b47 content-type dispatch), so the caller gets renderable
    * hits, not bare vector ids. The composition is the point: retrieval
    * (embeddings), catalog (documents) and media slots are three separate
    * surfaces whose alignment B303 audits; this row is the SERVING join
    * over the aligned subset, hash-pinned end to end.
    *
    * Scale posture: b44's broadcast-probe scan posture for scoring
    * (O(probes·n) map-side, per-probe top-k window); the metadata
    * attachment broadcasts the O(probes·k) hit list into a doc-keyed join
    * — the corpus never shuffles for serving. */
  private val b308 = entry(
    "b308_crossmodal_retrieval",
    """WITH v AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      |  FROM embeddings),
      |pairs AS (
      |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
      |         list_dot_product(p.v, c.v) / (p.norm * c.norm) AS cos
      |  FROM v p JOIN v c ON p.vec_id < 20 AND p.vec_id <> c.vec_id),
      |topk AS (
      |  SELECT * FROM (
      |    SELECT probe_id, neighbor_id, cos,
      |           CAST(row_number() OVER (PARTITION BY probe_id
      |             ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rn
      |    FROM pairs) r
      |  WHERE rn <= 5)
      |SELECT t.probe_id, t.rn, t.neighbor_id, round(t.cos, 4) AS cosine,
      |       d.lang, d.source,
      |       CASE WHEN d.doc_id % 3 = 0 THEN 'image/png'
      |            WHEN d.doc_id % 3 = 1 THEN 'audio/wav'
      |            ELSE 'video/mp4' END AS media_kind
      |FROM topk t JOIN documents d ON d.doc_id = t.neighbor_id
      |ORDER BY t.probe_id, t.rn""".stripMargin) { (s, d) =>
    val v = withNorm(Tables.embeddings(s, d))
    val probes = v.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pnorm"))
    val corpus = v.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
      col("norm").as("cnorm"))
    // per-probe top-5 via the bounded-state TopKAgg — the b44 spelling
    // (VERDICT r19 item 6): the shuffle carries probes·k pairs, never the
    // expanded corpus; same (cos DESC, id ASC) total order as the
    // oracle's rank window, so the hit list is identical
    val tk5 = udaf(graft.functions.TopKAgg(5))
    val topk = corpus.join(broadcast(probes), col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos", dot("pv", "cv") / (col("pnorm") * col("cnorm")))
      .groupBy(col("probe_id"))
      .agg(tk5(col("cos"), col("neighbor_id")).as("top"))
      .select(col("probe_id"), posexplode(col("top")))
      .select(col("probe_id"), col("col._2").as("neighbor_id"),
        col("col._1").as("cos"), (col("pos") + 1).cast("int").as("rn"))
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      col("source"),
      when(col("doc_id") % 3 === 0, "image/png")
        .when(col("doc_id") % 3 === 1, "audio/wav")
        .otherwise("video/mp4").as("media_kind"))
    docs.join(broadcast(topk), col("doc_id") === col("neighbor_id"))
      .select(col("probe_id"), col("rn"), col("neighbor_id"),
        round(col("cos"), 4).as("cosine"), col("lang"), col("source"),
        col("media_kind"))
      .orderBy("probe_id", "rn")
  }

  val entries: Seq[Entry] = Seq(b44, b44lsh, b44recall, b75, b165, b308)
}
