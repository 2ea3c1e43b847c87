package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.sources.Tables

/** Product quantization (PQ) approximate nearest-neighbor search — SURVEY
  * B44 scale path #3, the memory-compression leg beside sign-LSH (hashing)
  * and IVF (partition pruning). Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", IEEE TPAMI 2011 (public literature).
  *
  * The 64-dim vector is split into `m` subvectors; each subspace gets a
  * `ksub`-entry codebook, and a vector is stored as `m` small codes (the
  * default 16 codes of 4 bits = 8 bytes vs 256 bytes of floats — a 32×
  * compression of what the scoring join must carry; m trades recall
  * against code size). Search is asymmetric (ADC): the
  * probe stays exact; per (probe, subspace, code) partial dot products are
  * tabulated once, and each corpus vector scores as `m` table lookups
  * instead of a 64-term float dot product.
  *
  * Scale shape, stage by stage:
  *   - codebook: deterministic ksub-vector sample (smallest xxhash64 — the
  *     IVF quantizer rule: fixed cardinality, never linear in n), sliced
  *     into m subspaces → m·ksub tiny rows, broadcast everywhere below.
  *     At 100 TB the sample seeds per-subspace Lloyd — [[refineCodebook]]
  *     implements it (monotonicity pinned in PqSpec); the index layout is
  *     identical either way.
  *   - encode (index build): one broadcast join + per-(vec, sub) argmin —
  *     the shuffle carries (vec_id, sub, code) triples, never raw vectors.
  *     The n·m·ksub work is the one-off build cost, embarrassingly
  *     parallel. (A fused native Expression — the dot_f64/trigram_hashes
  *     pattern — would do it shuffle-free; the declarative form keeps
  *     every step a checkable relation.)
  *   - distance tables: probes × codebook = p·m·ksub partial dots,
  *     computed distributed, then collected — p·m·ksub doubles (a few KB
  *     for 20 probes; the bloom/CMS O(sketch) driver rule) and broadcast
  *     back as one flattened array per probe.
  *   - score: broadcast probe tables × encoded corpus; each pair costs m
  *     array lookups via one `aggregate` HOF, and the corpus side of the
  *     join carries 4-byte codes + one cached norm instead of the vector.
  *     Top-k per probe by the same window as b44. [[searchAdc]]'s cross
  *     join is O(n·probes) rows — exhaustive ADC; [[searchIvfAdc]] is the
  *     100 TB form: the IVF coarse quantizer routes each probe to nProbe
  *     cells and the scoring join is keyed on cell, cutting the input to
  *     ≈ nProbe/nCells of the corpus (pruning ratio pinned in PqSpec).
  *
  * Approximate by construction → rows-only entry (b19/b43-minhash rules);
  * PqSpec pins determinism (identical vectors ⇒ identical codes), code
  * shape, exactness in the self-coded limit, and recall vs brute force.
  *
  * Negative result (round 6, recorded so it isn't re-tried): RESIDUAL
  * encoding — PQ over x − c(x) (Jégou §V), including the cosine-correct
  * orthogonal form x = (x·ĉ)ĉ + r with the scalar x·ĉ stored exactly —
  * was measured at recall@10 0.24-0.25 vs 0.62 for raw codes on this
  * corpus. Cause: the DETERMINISTIC sampled codebook works precisely
  * because corpus vectors cluster (a sampled entry sits near every
  * cluster); residuals subtract that cluster structure away, leaving
  * near-isotropic remainders a 16-entry sample can't cover. Residual
  * encoding pays off only with Lloyd-REFINED codebooks
  * ([[refineCodebook]] over residuals — float-nondeterministic, hence
  * excluded from the deterministic entry), so the registered b84b stays
  * on raw codes.
  */
object Pq {

  private def dot(a: String, b: String) = expr(s"dot_f64($a, $b)")

  /** Deterministic per-subspace codebook: the `ksub` corpus vectors with
    * the smallest xxhash64(vec_id) (partitioning/order-independent),
    * sliced into `m` subvectors; `code` = sample rank, identical across
    * subspaces. Output: (sub, code, cv) — m·ksub rows, broadcast-sized. */
  def codebook(embeddings: DataFrame, m: Int, ksub: Int): DataFrame = {
    val d = 64 // embeddings table dimension (TESTDATA.md)
    require(d % m == 0, s"m=$m must divide dim $d")
    val dsub = d / m
    Ivf.asDouble(embeddings)
      .withColumn("hk", xxhash64(col("vec_id")))
      .orderBy(col("hk"), col("vec_id"))
      .limit(ksub)
      .withColumn("code", row_number().over(
        Window.orderBy(col("hk"), col("vec_id"))) - 1)
      .select(col("code"), posexplode(
        expr(s"transform(sequence(0, ${m - 1}), s -> slice(v, s * $dsub + 1, $dsub))")))
      .select(col("pos").as("sub"), col("code"), col("col").as("cv"))
  }

  /** PQ encoding: per (vector, subspace) nearest codebook entry by L2
    * (‖x‖² − 2x·c + ‖c‖² — ‖x‖² is rank-constant per (vec, sub), so the
    * argmin needs only −2x·c + ‖c‖²). One broadcast join, one argmin
    * window, one collect_list re-assembly; shuffles carry codes, not
    * vectors. Output: (vec_id, codes array<int> of length m, norm). */
  def encode(embeddings: DataFrame, cb: DataFrame, m: Int): DataFrame = {
    val subs = subvectors(embeddings, m)
    val wMin = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("dist2"), col("code"))
    subs.join(broadcast(cb), "sub")
      .withColumn("dist2", -lit(2) * dot("xv", "cv") + dot("cv", "cv"))
      .withColumn("rn", row_number().over(wMin))
      .filter(col("rn") === 1)
      .groupBy("vec_id", "norm")
      .agg(expr("transform(array_sort(collect_list(struct(sub, code))), e -> e.code)")
        .as("codes"))
      .select(col("vec_id"), col("codes"), col("norm"))
  }

  /** Per-(vector, subspace) subvector rows — the shared input of
    * [[encode]], [[refineCodebook]] and [[reconstructionError]]. */
  private def subvectors(embeddings: DataFrame, m: Int): DataFrame = {
    val dsub = 64 / m
    Ivf.asDouble(embeddings)
      .select(col("vec_id"), col("norm"), posexplode(
        expr(s"transform(sequence(0, ${m - 1}), s -> slice(v, s * $dsub + 1, $dsub))")))
      .select(col("vec_id"), col("norm"), col("pos").as("sub"), col("col").as("xv"))
  }

  /** The per-subspace Lloyd refinement the sampled codebook seeds
    * ([[Ivf.refineCentroids]]'s PQ twin, so the scaladoc's upgrade path
    * is code, not prose). Each iteration: one broadcast argmin assign
    * over the (vec, sub) rows, then an element-wise mean per (sub, code,
    * dim) — the shuffle carries partial sums bounded by m·ksub·dsub
    * groups, never rows. Codes that attract no subvectors vanish WITHOUT
    * renumbering (the code id space must stay stable: ADC tables index
    * by code), and like the IVF refinement the result is
    * bit-nondeterministic across runs (float partial-sum order), so the
    * deterministic entry stays on the sampled codebook. PqSpec pins the
    * Lloyd monotonicity: mean reconstruction error never increases. */
  def refineCodebook(embeddings: DataFrame, m: Int, ksub: Int, iters: Int): DataFrame = {
    val subs = subvectors(embeddings, m)
    var cb = codebook(embeddings, m, ksub)
    for (_ <- 1 to iters) {
      val wMin = Window.partitionBy(col("vec_id"), col("sub"))
        .orderBy(col("dist2"), col("code"))
      val assigned = subs.join(broadcast(cb), "sub")
        .withColumn("dist2", -lit(2) * dot("xv", "cv") + dot("cv", "cv"))
        .withColumn("rn", row_number().over(wMin))
        .filter(col("rn") === 1)
        .select(col("sub"), col("code"), col("xv"))
      cb = assigned
        .select(col("sub"), col("code"), posexplode(col("xv")))
        .groupBy("sub", "code", "pos").agg(avg(col("col")).as("mu"))
        .groupBy("sub", "code")
        .agg(expr("transform(array_sort(collect_list(struct(pos, mu AS v))), e -> e.v)")
          .as("cv"))
    }
    cb
  }

  /** Mean squared quantization error over all (vector, subspace) pairs —
    * the Lloyd objective ([[refineCodebook]]'s monotone quantity). */
  def reconstructionError(embeddings: DataFrame, cb: DataFrame, m: Int): Double = {
    val wMin = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("full2"), col("code"))
    subvectors(embeddings, m).join(broadcast(cb), "sub")
      .withColumn("full2",
        dot("xv", "xv") - lit(2) * dot("xv", "cv") + dot("cv", "cv"))
      .withColumn("rn", row_number().over(wMin))
      .filter(col("rn") === 1)
      .agg(avg(col("full2"))).head().getDouble(0)
  }

  /** Per-probe ADC lookup tables: p·m·ksub partial dots, computed
    * distributed then collected (a few KB for 20 probes — the bloom/CMS
    * O(sketch) driver rule) and re-broadcast as ONE flat array per probe;
    * entry s·ksub+code = pv_s · c_{s,code}. Shared by [[searchAdc]] and
    * [[searchIvfAdc]]. Output: (probe_id, pnorm, dtable). */
  private def distanceTables(probes: DataFrame, cb: DataFrame,
      m: Int, ksub: Int): DataFrame = {
    val spark = probes.sparkSession
    val dsub = 64 / m
    val tableRows = probes
      .select(col("probe_id"), col("pnorm"), posexplode(
        expr(s"transform(sequence(0, ${m - 1}), s -> slice(pv, s * $dsub + 1, $dsub))")))
      .select(col("probe_id"), col("pnorm"), col("pos").as("sub"), col("col").as("pv_s"))
      .join(broadcast(cb), "sub")
      .select(col("probe_id"), col("pnorm"), col("sub"), col("code"),
        dot("pv_s", "cv").as("pd"))
      .collect()
    import spark.implicits._
    tableRows.groupBy(r => (r.getLong(0), r.getDouble(1)))
      .map { case ((pid, pnorm), rows) =>
        val flat = new Array[Double](m * ksub)
        rows.foreach(r => flat(r.getInt(2) * ksub + r.getInt(3)) = r.getDouble(4))
        (pid, pnorm, flat.toSeq)
      }.toSeq.toDF("probe_id", "pnorm", "dtable")
  }

  /** ADC shortlist + exact re-rank: stage-2 of all ADC searches. Takes
    * the scoring input (each row = one (probe, coded vector) pair to ADC-
    * score, carrying probe_id/pnorm/dtable/vec_id/codes/norm), keeps a
    * `shortlist`-deep candidate set per probe by quantized cosine, then
    * re-scores ONLY the shortlist with the exact dot product against
    * `vectors` — a (vec_id, v, norm) relation that must cover every
    * possible shortlist member (the full corpus for the in-memory
    * searches; the PRUNED cell read for the on-disk index, since the
    * shortlist is a subset of the probed cells). */
  private def adcShortlistRerank(scoring: DataFrame, vectors: DataFrame,
      probes: DataFrame, k: Int, m: Int, ksub: Int, shortlist: Int): DataFrame = {
    val wAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_pq").desc, col("vec_id"))
    val candidates = scoring
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("adc", expr(
        s"aggregate(sequence(0, ${m - 1}), 0D, (acc, s) -> acc + dtable[s * $ksub + codes[s]])"))
      .withColumn("cos_pq", col("adc") / (col("pnorm") * col("norm")))
      .withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= shortlist)
      .select(col("probe_id"), col("vec_id"))
    // exact re-rank of the shortlist only: fetch true vectors for the
    // p·shortlist candidate rows, never the whole corpus
    val wTop = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    candidates
      .join(vectors.select(col("vec_id"), col("v"), col("norm")), "vec_id")
      .join(broadcast(probes), "probe_id")
      .withColumn("cos", dot("pv", "v") / (col("pnorm") * col("norm")))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cosine"), col("rn"))
  }

  /** ADC top-k cosine search with exact re-ranking. Stage 1 scores every
    * corpus vector from its codes via per-probe lookup tables (approximate
    * cosine Σ_s pv_s·c_{s,code_s} / (‖p‖·‖x‖) — exact norms, quantized
    * direction) and keeps a `shortlist`-deep candidate set; stage 2
    * re-scores ONLY the shortlist with the exact dot product — the
    * candidates-then-verify pattern (MinHashLsh/SimHash rule). The full
    * corpus is touched only through its 4-byte codes; exact vectors are
    * fetched for p·shortlist rows. Recall = P(true top-k ⊆ ADC shortlist),
    * pinned in PqSpec. */
  def searchAdc(embeddings: DataFrame, probeFilter: org.apache.spark.sql.Column,
      k: Int, m: Int = 16, ksub: Int = 16, shortlist: Int = 50): DataFrame = {
    val cb = codebook(embeddings, m, ksub).cache()
    try {
      val coded = encode(embeddings, cb, m)
      val probes = Ivf.asDouble(embeddings.filter(probeFilter))
        .select(col("vec_id").as("probe_id"), col("v").as("pv"),
          col("norm").as("pnorm"))
      val tables = distanceTables(probes, cb, m, ksub)
      val scoring = coded.crossJoin(broadcast(tables))
      adcShortlistRerank(scoring, Ivf.asDouble(embeddings), probes, k, m, ksub, shortlist)
    } finally cb.unpersist()
  }

  /** The IVFADC scoring input (Jégou et al. §V: coarse quantizer + PQ):
    * each output row is one (probe, coded vector) pair that the ADC stage
    * will score — i.e. the coded corpus JOINED ON CELL to the probes'
    * nProbe nearest coarse cells, instead of [[searchAdc]]'s probe ×
    * full-corpus cross join. Exposed so PqSpec can assert the pruning
    * ratio (rows ≈ p·n·nProbe/nCells, not p·n). */
  private[graft] def ivfAdcScoringInput(embeddings: DataFrame,
      probeFilter: org.apache.spark.sql.Column, m: Int, ksub: Int,
      nProbe: Int, numCells: Option[Int] = None): DataFrame =
    ivfAdcScoringInputFor(embeddings, ivfProbes(embeddings, probeFilter),
      m, ksub, nProbe, numCells)

  /** The probe relation every ADC consumer shares — (probe_id, pv, pnorm),
    * materialized once (localCheckpoint): the distance-table collect, the
    * cell routing join, and the re-rank broadcast would otherwise each
    * re-scan the corpus behind the probe filter. O(p) rows. */
  private def ivfProbes(embeddings: DataFrame,
      probeFilter: org.apache.spark.sql.Column): DataFrame =
    Ivf.asDouble(embeddings.filter(probeFilter))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("norm").as("pnorm"))
      .localCheckpoint(true)

  private def ivfAdcScoringInputFor(embeddings: DataFrame, probes: DataFrame,
      m: Int, ksub: Int, nProbe: Int, numCells: Option[Int]): DataFrame = {
    val nCells = numCells.getOrElse(Ivf.defaultNumCells(embeddings.count()))
    // codebook + centroids are each consumed twice-plus (encode's broadcast
    // join, the distance-table collect, cell assignment AND routing); both
    // are tiny by construction (m·ksub / nCells rows), so materialize ONCE.
    // localCheckpoint, not searchAdc's cache()/unpersist: the RETURNED lazy
    // plan still references them after this function exits, so there is no
    // safe point to unpersist — each extra consumption would otherwise
    // re-run the sample sort+limit job over the corpus (ADVICE r6).
    val cents = Ivf.centroids(embeddings, nCells).localCheckpoint(true)
    val cb = codebook(embeddings, m, ksub).localCheckpoint(true)
    // coarse index: cell id per corpus vector, attached to the PQ codes so
    // the scoring join carries (cell, codes, norm) — never raw vectors
    val codedCells = encode(embeddings, cb, m)
      .join(Ivf.assignTo(Ivf.asDouble(embeddings), cents)
        .select(col("vec_id"), col("cell")), "vec_id")
    // probe router (Ivf.search's): nProbe nearest cells per probe
    val wCell = Window.partitionBy(col("probe_id"))
      .orderBy(col("csim").desc, col("cell"))
    val probeCells = probes.join(broadcast(cents))
      .withColumn("csim", dot("pv", "cv") / (col("pnorm") * col("cnorm")))
      .withColumn("crn", row_number().over(wCell))
      .filter(col("crn") <= nProbe)
      .select(col("probe_id"), col("cell"))
    val tables = distanceTables(probes, cb, m, ksub)
    // THE scale fix over searchAdc: the broadcast side is (probe, cell,
    // dtable) and the join is keyed on cell, so only vectors in probed
    // cells are ADC-scored — nProbe/nCells of the corpus per probe
    codedCells.join(broadcast(probeCells.join(tables, "probe_id")), "cell")
  }

  /** IVFADC top-k cosine search (SURVEY B44: the composition of scale
    * paths #2 and #3): coarse quantizer routes each probe to its nProbe
    * nearest cells, ADC scores ONLY those cells' codes, exact re-rank on
    * the shortlist. Fixes [[searchAdc]]'s one 100 TB weakness — its
    * scoring join is O(n·p) rows even with 8-byte codes — by cutting the
    * scoring input to ≈ nProbe/nCells of the corpus, the same pruning
    * [[Ivf.search]] applies to exact scoring. Recall = P(true top-k in
    * probed cells AND in ADC shortlist); pinned vs brute force in PqSpec
    * alongside the pruning-ratio assert. */
  def searchIvfAdc(embeddings: DataFrame, probeFilter: org.apache.spark.sql.Column,
      k: Int, m: Int = 16, ksub: Int = 16, shortlist: Int = 50,
      nProbe: Int = 8, numCells: Option[Int] = None): DataFrame = {
    val probes = ivfProbes(embeddings, probeFilter) // built ONCE, shared below
    val scoring = ivfAdcScoringInputFor(embeddings, probes, m, ksub, nProbe, numCells)
    adcShortlistRerank(scoring, Ivf.asDouble(embeddings), probes, k, m, ksub, shortlist)
  }

  /** The on-disk IVFADC index (the [[Ivf.writeCellPartitioned]] pattern
    * extended with codes): per-vector PQ codes AND exact vectors written
    * as CELL-PARTITIONED parquet, plus the centroid set and codebook, so
    * the index is self-contained. A probe then reads ONLY its nProbe
    * cells' directories — the cell predicate becomes directory-level
    * PartitionFilters (asserted in PqSpec), so at 100 TB the other
    * nCells − nProbe cells' files are never even listed, for BOTH the
    * ADC scoring read and the exact re-rank read. */
  def writeIvfPqIndex(embeddings: DataFrame, dir: String,
      m: Int = 16, ksub: Int = 16, numCells: Option[Int] = None): Unit = {
    val nCells = numCells.getOrElse(Ivf.defaultNumCells(embeddings.count()))
    val cents = Ivf.centroids(embeddings, nCells)
    val cb = codebook(embeddings, m, ksub)
    val assigned = Ivf.assignTo(Ivf.asDouble(embeddings), cents)
    encode(embeddings, cb, m)
      .join(assigned.select(col("vec_id"), col("cell"), col("v")), "vec_id")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
    cents.write.mode("overwrite").parquet(s"$dir/_centroids")
    cb.write.mode("overwrite").parquet(s"$dir/_codebook")
  }

  /** IVFADC search against a [[writeIvfPqIndex]] layout: same routing and
    * scoring as [[searchIvfAdc]], but the probed cells are pruned at the
    * SCAN — `cell IN (...)` over the partition column — so the join-level
    * pruning becomes I/O pruning. The probed cell-id list is O(p·nProbe)
    * driver-side values (the b81 manifest rule); the exact re-rank reads
    * its vectors from the same pruned relation (the shortlist is a subset
    * of the probed cells by construction). Result-equal to the in-memory
    * search, pinned in PqSpec. */
  def searchIvfAdcFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      probes0: DataFrame, k: Int, m: Int = 16, ksub: Int = 16,
      shortlist: Int = 50, nProbe: Int = 8): DataFrame = {
    val cents = spark.read.parquet(s"$dir/_centroids")
    val cb = spark.read.parquet(s"$dir/_codebook")
    val probes = Ivf.asDouble(probes0)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("norm").as("pnorm"))
    val wCell = Window.partitionBy(col("probe_id"))
      .orderBy(col("csim").desc, col("cell"))
    val probeCells = probes.join(broadcast(cents))
      .withColumn("csim", dot("pv", "cv") / (col("pnorm") * col("cnorm")))
      .withColumn("crn", row_number().over(wCell))
      .filter(col("crn") <= nProbe)
      .select(col("probe_id"), col("cell"))
    val wantedCells = probeCells.select("cell").distinct()
      .collect().map(_.getLong(0)) // O(p·nProbe) driver-side ids
    val cells = spark.read.parquet(s"$dir/cells")
      .filter(col("cell").isin(wantedCells: _*))
    val tables = distanceTables(probes, cb, m, ksub)
    val scoring = cells.join(broadcast(probeCells.join(tables, "probe_id")), "cell")
    adcShortlistRerank(scoring, cells, probes, k, m, ksub, shortlist)
  }

  /** B44 scale path #3 — PQ/ADC top-10 for the same probe set as the
    * brute-force query (approximate: recall + determinism in PqSpec). */
  private val b84pq = entryNoOracle("b84_similarity_pq") { (s, d) =>
    searchAdc(Tables.embeddings(s, d), col("vec_id") < 20, k = 10)
      .orderBy("probe_id", "rn")
  }

  /** B44 scale-path composition — IVFADC top-10 for the same probe set
    * (approximate: recall + pruning ratio pinned in PqSpec). */
  private val b84bIvfPq = entryNoOracle("b84b_similarity_ivfpq") { (s, d) =>
    searchIvfAdc(Tables.embeddings(s, d), col("vec_id") < 20, k = 10, nProbe = 10)
      .orderBy("probe_id", "rn")
  }

  /** One index dir per JVM (the StreamReplay chunk-dir rule): overwrite
    * mode makes re-runs idempotent without accumulating index copies. */
  private lazy val indexDir84c: String =
    java.nio.file.Files.createTempDirectory("graft_b84c_ivfpq_index").toString

  /** B44 scale-path composition, ON-DISK — the driver-visible twin of the
    * PqSpec on-disk asserts: builds the cell-partitioned [[writeIvfPqIndex]]
    * layout, then searches it via [[searchIvfAdcFromIndex]], so a
    * regression in the index write/read/prune path turns this row red
    * instead of hiding in the test suite. Same probes/k/nProbe as b84b
    * (whose in-memory search is result-equal by PqSpec). */
  private val b84cIndex = entryNoOracle("b84c_similarity_ivfpq_index") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    writeIvfPqIndex(emb, indexDir84c)
    searchIvfAdcFromIndex(s, indexDir84c, emb.filter(col("vec_id") < 20),
      k = 10, nProbe = 10)
      .orderBy("probe_id", "rn")
  }

  val entries: Seq[Entry] = Seq(b84pq, b84bIvfPq, b84cIndex)
}
