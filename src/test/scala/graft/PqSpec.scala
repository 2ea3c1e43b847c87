package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.Pq
import graft.sources.Tables

/** Product-quantization ANN: code determinism and shape, the
  * self-coded-limit exactness argument, and recall vs the exact
  * brute-force top-k. */
class PqSpec extends AnyFunSuite {
  private val spark = TestSession.spark
  private val sf = TestSession.sf0001
  private val M = 16
  private val KSUB = 16

  private lazy val emb = Tables.embeddings(spark, sf)

  test("identical vectors get identical codes (encode is content-determined)") {
    // plant exact duplicates under shifted ids (the b75 corpus rule)
    val dups = emb.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"), col("label"))
    val cb = Pq.codebook(emb, M, KSUB)
    val coded = Pq.encode(emb.unionByName(dups), cb, M)
      .select(col("vec_id"), col("codes"))
    val pairs = coded.filter(col("vec_id") >= 1000000L)
      .select((col("vec_id") - 1000000L).as("vec_id"), col("codes").as("dup_codes"))
      .join(coded, "vec_id")
    assert(pairs.count() > 0)
    assert(pairs.filter(expr("codes <> dup_codes")).count() === 0,
      "an exact duplicate vector encoded to different codes")
  }

  test("codes have shape m with values in [0, ksub)") {
    val coded = Pq.encode(emb, Pq.codebook(emb, M, KSUB), M)
    assert(coded.filter(size(col("codes")) =!= M).count() === 0)
    assert(coded.filter(
      expr(s"exists(codes, c -> c < 0 OR c >= $KSUB)")).count() === 0)
  }

  test("codebook members reconstruct exactly (quantization error zero in the coded limit)") {
    // A vector that IS a codebook sample vector must assign each of its
    // subvectors to its own codebook entry at distance 0 — i.e. decode of
    // its codes reproduces the vector bit-exactly. Pins both the encoder's
    // argmin and the codebook/slice alignment.
    val cbIds = graft.llm.Ivf.asDouble(emb)
      .withColumn("hk", xxhash64(col("vec_id")))
      .orderBy(col("hk"), col("vec_id")).limit(KSUB)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val cb = Pq.codebook(emb, M, KSUB)
    val coded = Pq.encode(emb, cb, M)
    val dsub = 64 / M
    val members = emb.filter(col("vec_id").isin(cbIds.toSeq: _*))
    val subs = graft.llm.Ivf.asDouble(members)
      .select(col("vec_id"), posexplode(
        expr(s"transform(sequence(0, ${M - 1}), s -> slice(v, s * $dsub + 1, $dsub))")))
      .select(col("vec_id"), col("pos").as("sub"), col("col").as("xv"))
    val codes = coded.filter(col("vec_id").isin(cbIds.toSeq: _*))
      .select(col("vec_id"), posexplode(col("codes")))
      .select(col("vec_id"), col("pos").as("sub"), col("col").as("code"))
    val mismatches = subs.join(codes, Seq("vec_id", "sub"))
      .join(cb, Seq("sub", "code"))
      .filter(expr("exists(zip_with(xv, cv, (a, b) -> abs(a - b)), e -> e > 0D)"))
      .count()
    assert(mismatches === 0,
      "a codebook member's subvector quantized to a non-identical entry")
  }

  test("codebook refinement is Lloyd-monotone and keeps code ids valid") {
    val sampled = Pq.codebook(emb, M, KSUB)
    val refined = Pq.refineCodebook(emb, M, KSUB, iters = 2)
    val e0 = Pq.reconstructionError(emb, sampled, M)
    val e2 = Pq.reconstructionError(emb, refined, M)
    info(f"reconstruction error: sampled $e0%.5f -> refined $e2%.5f")
    assert(e2 <= e0 + 1e-9,
      f"Lloyd refinement increased the objective: $e2%.5f > $e0%.5f")
    // code id space stays within [0, ksub) without renumbering, and
    // encoding against the refined codebook still yields valid shapes
    assert(refined.filter(col("code") < 0 || col("code") >= KSUB).count() === 0)
    val coded = Pq.encode(emb, refined, M)
    assert(coded.filter(size(col("codes")) =!= M).count() === 0)
  }

  test("recall@10 vs exact brute-force top-10 on the b44 probe set") {
    val exact = SparkEntry.queries("b44_similarity_bruteforce")(spark, sf)
      .select(col("probe_id"), col("neighbor_id"))
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    val pq = SparkEntry.queries("b84_similarity_pq")(spark, sf)
      .select(col("probe_id"), col("neighbor_id"))
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (p, truth) =>
      pq.getOrElse(p, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"PQ recall@10 = $mean%.3f over ${recalls.size} probes")
    // ADC shortlist (50/500) + exact re-rank: recall is P(true top-10 in
    // the shortlist) — measured 0.785 on this corpus (m=16; 0.59 at m=8);
    // bound set with margin so the spec pins it can't silently degrade
    assert(mean >= 0.6, f"PQ recall collapsed: $mean%.3f")
  }

  test("IVFADC scoring join touches only probed cells (pruning ratio)") {
    val nCells = 25
    val nProbe = 5
    val probeFilter = col("vec_id") < 20
    val p = emb.filter(probeFilter).count()
    val n = emb.count()
    val scoring = Pq.ivfAdcScoringInput(emb, probeFilter, M, KSUB,
      nProbe, numCells = Some(nCells)).count()
    val full = p * n // what searchAdc's cross join would score
    val expected = full.toDouble * nProbe / nCells
    info(f"IVFADC scoring rows = $scoring (full cross join = $full, " +
      f"nProbe/nCells share = $expected%.0f)")
    // hash-sampled cells aren't balanced, so allow 2× the ideal share —
    // still far below the full cross join searchAdc pays
    assert(scoring <= 2 * expected,
      f"IVFADC scored $scoring rows — pruning lost (ideal $expected%.0f)")
  }

  test("IVFADC equals exhaustive ADC in the nProbe = nCells limit") {
    // with every cell probed the coarse quantizer filters nothing, so the
    // composition must reproduce searchAdc EXACTLY — pins that the cell
    // routing/join machinery only ever PRUNES, never alters scores
    val nCells = 10
    val probeFilter = col("vec_id") < 20
    val full = Pq.searchAdc(emb, probeFilter, k = 10)
    val ivfAll = Pq.searchIvfAdc(emb, probeFilter, k = 10,
      nProbe = nCells, numCells = Some(nCells))
    assert(full.count() === ivfAll.count())
    assert(full.exceptAll(ivfAll).count() === 0)
    assert(ivfAll.exceptAll(full).count() === 0)
  }

  test("on-disk IVFADC index is result-equal to in-memory and prunes cells at the scan") {
    val dir = TestDirs("graft_ivfpq_idx").toString
    Pq.writeIvfPqIndex(emb, dir)
    val fromIndex = Pq.searchIvfAdcFromIndex(spark, dir,
      emb.filter(col("vec_id") < 20), k = 10, nProbe = 10)
    val inMemory = Pq.searchIvfAdc(emb, col("vec_id") < 20, k = 10, nProbe = 10)
    assert(fromIndex.count() === inMemory.count())
    assert(fromIndex.exceptAll(inMemory).count() === 0)
    assert(inMemory.exceptAll(fromIndex).count() === 0)
    // the cell predicate must land in directory-level PartitionFilters:
    // the other nCells - nProbe cells' files are never even listed
    val scan = spark.read.parquet(s"$dir/cells").filter(col("cell").isin(1L, 2L))
    val planStr = scan.queryExecution.executedPlan.toString
    val parts = planStr.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
    assert(parts != planStr && parts.contains("cell"),
      s"cell not in PartitionFilters:\n$planStr")
  }

  test("IVFADC recall@10 vs exact brute-force top-10 on the b44 probe set") {
    val exact = SparkEntry.queries("b44_similarity_bruteforce")(spark, sf)
      .select(col("probe_id"), col("neighbor_id"))
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    val ivfpq = SparkEntry.queries("b84b_similarity_ivfpq")(spark, sf)
      .select(col("probe_id"), col("neighbor_id"))
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (p, truth) =>
      ivfpq.getOrElse(p, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"IVFADC recall@10 = $mean%.3f over ${recalls.size} probes")
    // recall = P(true neighbor in the nProbe probed cells AND in the ADC
    // shortlist): the cell filter costs recall vs plain ADC's 0.785 —
    // that's the pruning trade. Measured 0.620 (nProbe=10 of 23 cells;
    // 0.575 at nProbe=8); the whole pipeline is deterministic (hash-
    // sampled centroids, deterministic codes and tie-breaks) so the
    // measurement is exact and the b44 gate of 0.6 is pinned directly.
    assert(mean >= 0.6, f"IVFADC recall collapsed: $mean%.3f")
  }
}
