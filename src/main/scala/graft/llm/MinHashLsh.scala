package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic MinHash + banded LSH near-duplicate detection
  * (SURVEY B43 scale path).
  *
  * Pipeline: word-3-shingles → 64 MinHash values (xxhash64 seeded by the
  * hash index — fixed seeds, fully deterministic, SURVEY §2B rule for
  * approximate ops) → 16 bands × 4 rows → bucket join on (band, band hash)
  * → exact-Jaccard verification of the candidates.
  *
  * Scale posture (the reason this exists next to the exact inverted-index
  * join): candidate generation is a hash self-join on band buckets — cost
  * O(sum of bucket² ) instead of O(n²); signatures are 64 longs per doc
  * regardless of document size; verification touches only candidate pairs.
  * With b bands of r rows, P(candidate) = 1-(1-j^r)^b — at r=4, b=16 the
  * curve crosses ~0.5 near j≈0.5, and identical docs collide with
  * probability 1 (property-tested in MinHashLshSpec).
  */
object MinHashLsh {
  val NumHashes = 64
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands

  /** Distinct (doc_id, sh) 64-bit shingle hashes. Every downstream stage
    * — signature aggregation AND the verification joins — operates on the
    * 8-byte hash, never the shingle string: the string's bytes are hashed
    * exactly once, shuffles carry fixed-width longs, and join compares are
    * single-word. A 2^-64-per-pair xxhash64 collision can in principle
    * merge two shingles; acceptable inside the approximate LSH path (the
    * t2-checked exact-Jaccard twin b43_dedup_jaccard keeps real strings). */
  def hashedShingles(docs: DataFrame): DataFrame =
    TextDedup.shingles(docs).select(col("doc_id"), xxhash64(col("shingle")).as("sh"))

  /** 64-wide MinHash signature per doc_id: sig[i] = min over shingles of
    * h_i(shingle). One shuffle (groupBy doc_id); 64 aggregates computed
    * map-side first.
    *
    * The hash family is the 2-universal Carter-Wegman construction
    * h_i = a + i*b from the shingle hash — NOT 64 independent xxhash64
    * calls over the shingle bytes, which would dominate the whole pipeline
    * (measured ~3x on the sf0.1 bench). `a` is masked to 62 bits and `b`
    * to 32 so `a + 63*b < 2^63` can never overflow (Spark 4 ANSI mode
    * turns silent Long wraparound into a runtime error). */
  def signatures(docs: DataFrame): DataFrame =
    signaturesFromShingles(hashedShingles(docs))

  /** Input: (doc_id, sh: long) from [[hashedShingles]]. */
  def signaturesFromShingles(sh: DataFrame): DataFrame = {
    val a = col("sh").bitwiseAND(lit(0x3FFFFFFFFFFFFFFFL))
    val b = xxhash64(lit(1), col("sh")).bitwiseAND(lit(0xFFFFFFFFL))
    val hashed = sh.select(col("doc_id"), a.as("ha"), b.as("hb"))
    val minCols = (0 until NumHashes).map(i =>
      min(col("ha") + lit(i.toLong) * col("hb")).as(s"h$i"))
    hashed.groupBy("doc_id")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Candidate pairs (doc_a < doc_b) sharing at least one LSH band.
    * Oversize buckets (degenerate corpora) are dropped before the
    * self-join; the cap/join shape is the shared
    * [[LshCaps.bandedCandidates]]. */
  def candidatePairs(sigs: DataFrame,
      bucketCap: Option[Int] = Some(LshCaps.DefaultBucketCap)): DataFrame = {
    // posexplode_outer: sig is always 64 wide → 16 bands, never empty;
    // the non-outer form would re-evaluate the band-hash expression per
    // row in an inferred Generate guard (the b43 explode lesson).
    // lsh_bands is the native fused spelling of
    // transform(sequence(0,15), b -> xxhash64(slice(sig, b*4+1, 4))) —
    // bit-identical, spec-pinned in MinHashLshSpec
    val banded = sigs.select(col("doc_id"),
      posexplode_outer(expr("lsh_bands(sig)")))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bucket"))
    LshCaps.bandedCandidates(banded, "doc_id", bucketCap)
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"))
  }

  /** Exact Jaccard for given (doc_a, doc_b) pairs via the shingle-hash
    * join (exact modulo the documented 2^-64 hash-collision caveat). */
  def verifyJaccard(pairs: DataFrame, docs: DataFrame): DataFrame =
    verifyJaccardFromShingles(pairs, hashedShingles(docs))

  /** Exact Jaccard from the per-doc distinct hash ARRAYS (one row per
    * doc): each candidate pair fetches both docs' arrays by two doc-keyed
    * joins and computes `size(array_intersect)` per row. Supersedes the
    * exploded spelling below on every axis measured (r6 A/B at sf0.1:
    * 0.30s vs 0.55s warm, 0.59s vs 1.49s cold, bit-identical output):
    * the shuffles carry the SAME total hash bytes in ~shingles-per-doc×
    * fewer rows, and the per-pair (doc_a, doc_b) groupBy — whose input is
    * |cands|·shingles rows — becomes an O(|a|+|b|) per-row hash-set
    * intersection. Arrays are distinct by construction
    * ([[ShingleHashesExpression]] / [[TextDedup.withShingleArr]]), so
    * intersect size ≡ common count. */
  def verifyJaccardFromArrays(pairs: DataFrame, hArr: DataFrame): DataFrame = {
    val a = hArr.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
    val b = hArr.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"))
    pairs.join(a, "doc_a").join(b, "doc_b")
      .withColumn("common", size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") /
          (size(col("hs_a")) + size(col("hs_b")) - col("common"))).as("jaccard"))
  }

  /** Input: (doc_id, sh: long) from [[hashedShingles]] — the exploded
    * spelling, kept as the API for callers holding a (doc, sh) relation
    * (and as the independent twin [[verifyJaccardFromArrays]] is
    * spec-checked against). Joins the FULL shingle relation deliberately:
    * at the b43 operating point (τ=0.5, near the 16×4 banding crossover)
    * the candidate pairs touch most of the corpus, so prefiltering `sh`
    * to candidate docs was measured SLOWER (r4 A/B at sf0.1: 1.0s
    * full-join vs 1.6s checkpoint-filtered vs 3.2s lazy-filtered) — the
    * filter removed almost nothing and added a barrier. The r6 finding
    * that DID pay is the array reformulation above. */
  def verifyJaccardFromShingles(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // equi-join on (doc, sh) both times — the shingle key must be part
    // of the join, or each pair degenerates to |A|×|B| combinations
    val common = pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
    pairs
      .join(common, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("common"))
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") / (col("na") + col("nb") - col("common")))
          .as("jaccard"))
  }

  /** 64-wide MinHash signature per doc via the native fused
    * [[graft.functions.MinHashSigExpression]]: a map-side PROJECTION of
    * the document row — no explode, no 64-column agg buffers, no
    * signature shuffle. Bit-identical to [[signaturesFromShingles]]
    * (same two xxhash64 evaluations per shingle, and min over the
    * multiset ≡ min over the distinct set), pinned in MinHashLshSpec. */
  def signaturesNative(docs: DataFrame): DataFrame = {
    TextDedup.withShingleArr(docs)
      .select(col("doc_id"), expr("minhash_sigs(sh_arr)").as("sig"))
  }

  /** Fan-out pin for the shingling pass (the b43_dedup_jaccard lesson):
    * a local parquet scan is 1-2 splits, which would leave shingling +
    * signatures on 1-2 of the 32 threads, so narrow inputs repartition to
    * defaultParallelism (the pinned count stops AQE from coalescing the
    * tiny-input shuffle back). GATED on the input actually being narrower
    * than the cluster: a 100 TB corpus already has thousands of splits,
    * and an unconditional repartition there would force a gratuitous
    * full-corpus text shuffle for nothing. Gate pinned in MinHashLshSpec. */
  /** Bytes a spread partition should carry (compressed-source estimate).
    * Mirrors the spark.sql.files.maxPartitionBytes idea at a smaller
    * grain: text expands ~5-10× off parquet, so 8 MB of source ≈
    * 40-80 MB of in-flight strings — a healthy task. */
  private[graft] val SpreadTargetBytes = 8L * 1024 * 1024

  /** Fan a NARROW input out before per-doc-heavy pipelines — but only as
    * wide as its size earns. The width is derived from the optimizer's
    * size estimate (`stats.sizeInBytes`, no job), one partition per
    * [[SpreadTargetBytes]], capped at defaultParallelism: a 100 TB scan
    * has thousands of splits and must not pay a full-text shuffle here
    * (the r5 gate), while a kilobytes-scale gate corpus must not pay 32
    * shuffle+task constants per downstream stage either (r20 A/B at
    * sf0.1/32, b178 end-to-end: spread-to-32 14.2-18.8 executor-CPU s
    * vs native-width 1.6-1.8, wall also better — the pinned
    * defaultParallelism spread predates the fused native shingle/sig
    * expressions that made per-doc work ~20× cheaper). The repartition
    * count stays PINNED (not AQE-coalescible) for the case that earns
    * it: when bytes say the single split genuinely holds many tasks'
    * worth of text.
    *
    * Estimate-quality caveat (ADVICE r20): `stats.sizeInBytes` is exact
    * only for scan-rooted plans; through unions/joins/generates it is a
    * row-width extrapolation that can under- or over-shoot. Callers
    * should pass scan-rooted (or scan-projection/union) plans; an
    * UNDERestimate on a text-heavy derived input would silently keep it
    * at native width (the r5 pathology this spread exists to fix), so a
    * caller with a known-heavy derived input should repartition
    * explicitly instead of relying on this gate. */
  private[graft] def spreadNarrowInput(docs: DataFrame): DataFrame = {
    val parallelism = docs.sparkSession.sparkContext.defaultParallelism
    val cur = docs.rdd.getNumPartitions
    if (cur >= parallelism) docs
    else {
      val bytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
      val earned = (bytes / SpreadTargetBytes).min(parallelism).toLong
      if (earned <= cur) docs
      else docs.repartition(earned.toInt, col("doc_id"))
    }
  }

  /** End-to-end near-dup detection: LSH candidates, then exact verification
    * at `threshold`. The distinct hashed-shingle ARRAY (one row per doc,
    * 8-byte longs — shingle strings never materialize, see
    * [[graft.functions.ShingleHashesExpression]]) feeds the native
    * signature projection AND the array-intersect verifier directly;
    * cached so the fused shingling pass runs once. Since r6 the verifier
    * is [[verifyJaccardFromArrays]] (the shingle hashes never explode at
    * all — see its A/B numbers), which also consumes the candidates once,
    * so only `hArr` needs a cache. bandedCandidates still holds its EAGER
    * localCheckpoint barrier (LshCaps scaladoc), so a Spark job for the
    * banded relation runs at construction time here. */
  def nearDuplicates(docs: DataFrame, threshold: Double,
      bucketCap: Option[Int] = Some(LshCaps.DefaultBucketCap)): DataFrame = {
    val spread = spreadNarrowInput(docs)
    // size > 0 replays withShingleArr's `size(words) >= 3` gate (the
    // expression returns the empty array below 3 words)
    val hArr = spread
      .select(col("doc_id"), expr("shingle_hashes(text)").as("hs"))
      .filter(size(col("hs")) > 0)
      .cache()
    val sigs = hArr.select(col("doc_id"), expr("minhash_sigs(hs)").as("sig"))
    try {
      verifyJaccardFromArrays(candidatePairs(sigs, bucketCap), hArr)
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
        .localCheckpoint(true) // materialize before releasing the cache
    } finally hArr.unpersist()
  }
}
