package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.sources.Tables

/** IVF (inverted-file) approximate nearest-neighbor search (SURVEY B44
  * scale path #2, alongside the sign-LSH variant).
  *
  * Coarse quantizer: a FIXED-CARDINALITY deterministic centroid sample —
  * the `k` corpus vectors with the smallest xxhash64(vec_id), a uniform
  * pseudo-random sample independent of partitioning and input order
  * (TakeOrderedAndProject: one streaming pass keeping k rows per
  * partition, no full sort). At 100 TB the sample seeds k-means (Lloyd
  * iterations are broadcast-join + re-average passes over this same
  * structure); the index layout and query plan are identical either way.
  * Each corpus vector is assigned to its nearest centroid (one
  * broadcast-join pass); a query probes only the `nProbe` nearest cells,
  * then scores exact cosine inside them.
  *
  * Cost model (the r2 version sampled every 25th vector, making
  * |centroids| LINEAR in n — an O(n²/25) assignment pass and an unbounded
  * broadcast; fixed k removes both): assignment is O(n·k) with
  * k = min(√n, 4096) by default, so at most 4096·n and the broadcast is
  * ≤ k vectors regardless of corpus size. Search cost drops from O(n)
  * per probe to O(n · nProbe / k), and the cells are a partitioning key —
  * a 100 TB corpus stores cell-partitioned parquet so a probe reads only
  * its cells' files: [[writeCellPartitioned]] / [[searchFromLayout]]
  * implement that layout (directory-level PartitionFilters asserted in
  * IvfSpec, result-equal to the in-memory index).
  */
object Ivf {

  /** Default cell count: √n capped at 4096 (the FAISS-style heuristic —
    * balances the O(n·k) build against O(n/k) per-probe scan). */
  def defaultNumCells(n: Long): Int =
    math.min(4096.0, math.max(1.0, math.ceil(math.sqrt(n.toDouble)))).toInt

  /** Native codegen dot product (see [[graft.functions.DotProductExpression]]);
    * provided by [[graft.functions.Natives]]. */
  private def dot(a: String, b: String) = expr(s"dot_f64($a, $b)")

  private[graft] def asDouble(df: DataFrame): DataFrame =
    df.select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("norm", sqrt(dot("v", "v")))

  /** Deterministic coarse quantizer cells: the `k` vectors with the
    * smallest xxhash64(vec_id) (vec_id tie-break is unreachable absent a
    * 2^-64 hash collision but keeps the sort total). */
  def centroids(embeddings: DataFrame, k: Int): DataFrame =
    asDouble(embeddings)
      .withColumn("hk", xxhash64(col("vec_id")))
      .orderBy(col("hk"), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("cell"), col("v").as("cv"), col("norm").as("cnorm"))

  /** Nearest-centroid assignment of each vector to the given centroid set
    * (broadcast join + per-vector argmax window). */
  def assignTo(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("cell"))
    vecs
      .join(broadcast(cents))
      .withColumn("sim", dot("v", "cv") / (col("norm") * col("cnorm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cell"), col("v"), col("norm"))
  }

  /** Index: nearest-centroid assignment per corpus vector. */
  def assignments(embeddings: DataFrame, k: Int): DataFrame =
    assignTo(asDouble(embeddings), centroids(embeddings, k))

  /** The k-means upgrade path, implemented: spherical-k-means Lloyd
    * refinement of the hash-sampled quantizer. Each iteration is (1) one
    * broadcast-assign pass over the corpus and (2) one element-wise mean
    * per cell — a (cell, dim) hash aggregate whose shuffle carries partial
    * sums (groups ∝ k·dim, never rows), then a per-cell re-assembly. The
    * cosine argmax normalizes by the centroid norm, so mean-without-
    * normalize IS the spherical Lloyd update (average within-cell cosine
    * is non-decreasing, asserted in IvfSpec). Cells that attract no
    * vectors are dropped (standard); float partial-sum order makes
    * refined centroids bit-nondeterministic across runs, which is why the
    * deterministic t2/bench entry stays on the sampled quantizer and
    * refinement is the offline index-build API. */
  def refineCentroids(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    val vecs = asDouble(embeddings)
    var cents = centroids(embeddings, k)
    for (_ <- 1 to iters) {
      val assigned = assignTo(vecs, cents)
      val byDim = assigned
        .select(col("cell"), posexplode_outer(col("v")))
        .groupBy("cell", "pos")
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      cents = byDim
        .groupBy("cell")
        .agg(expr("transform(array_sort(collect_list(struct(pos, s / n AS m))), e -> e.m)").as("cv"))
        .withColumn("cnorm", sqrt(dot("cv", "cv")))
        .filter(col("cnorm") > 0) // degenerate zero-mean cell can't rank
        .select(col("cell"), col("cv"), col("cnorm"))
    }
    cents
  }

  /** Top-k cosine search probing only the nProbe nearest cells per query.
    * `numCells` defaults to [[defaultNumCells]] of the corpus size (a
    * count() job — cheap, zero-column scan answered from parquet
    * row-group metadata, but a job; pass numCells to skip it). The
    * centroid set is built once and shared by the index and the probe
    * router. */
  def search(embeddings: DataFrame, probeFilter: org.apache.spark.sql.Column,
      k: Int, nProbe: Int, numCells: Option[Int] = None): DataFrame = {
    val nCells = numCells.getOrElse(defaultNumCells(embeddings.count()))
    val cents = centroids(embeddings, nCells)
    val assigned = assignTo(asDouble(embeddings), cents)
    val probes = asDouble(embeddings.filter(probeFilter))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pnorm"))
    val wCell = Window.partitionBy(col("probe_id")).orderBy(col("csim").desc, col("cell"))
    val probeCells = probes.join(broadcast(cents))
      .withColumn("csim", dot("pv", "cv") / (col("pnorm") * col("cnorm")))
      .withColumn("crn", row_number().over(wCell))
      .filter(col("crn") <= nProbe)
      .select(col("probe_id"), col("pv"), col("pnorm"), col("cell"))
    val wTop = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    probeCells
      .join(assigned, "cell") // only the probed cells' vectors are scored
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", dot("pv", "v") / (col("pnorm") * col("norm")))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cosine"), col("rn"))
  }

  /** The on-disk index (the docstring's 100 TB layout, implemented):
    * nearest-centroid assignments written as CELL-PARTITIONED parquet —
    * one directory per cell — plus the centroid set at `_centroids` so
    * the index is self-contained. A probe then reads ONLY its nProbe
    * cells' directories: the cell predicate becomes directory-level
    * PartitionFilters (asserted on the plan in IvfSpec), which at 100 TB
    * means the other k − nProbe cells are never even listed. */
  def writeCellPartitioned(embeddings: DataFrame, k: Int, dir: String): Unit = {
    val cents = centroids(embeddings, k)
    assignTo(asDouble(embeddings), cents)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
    cents.write.mode("overwrite").parquet(s"$dir/_centroids")
  }

  /** Top-k cosine search against a [[writeCellPartitioned]] layout. Same
    * routing as [[search]] (broadcast centroid argmax per probe), but the
    * scored vectors come from the pruned on-disk read: `cell IN (...)`
    * over the partition column. The probed cell-id list is O(p·nProbe)
    * driver-side values — the manifest rule (b81). */
  def searchFromLayout(spark: SparkSession, dir: String,
      probes0: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val cents = spark.read.parquet(s"$dir/_centroids")
    val probes = asDouble(probes0)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pnorm"))
    val wCell = Window.partitionBy(col("probe_id")).orderBy(col("csim").desc, col("cell"))
    val probeCells = probes.join(broadcast(cents))
      .withColumn("csim", dot("pv", "cv") / (col("pnorm") * col("cnorm")))
      .withColumn("crn", row_number().over(wCell))
      .filter(col("crn") <= nProbe)
      .select(col("probe_id"), col("pv"), col("pnorm"), col("cell"))
    val wantedCells = probeCells.select("cell").distinct()
      .collect().map(_.getLong(0)) // O(p·nProbe) driver-side ids
    val assigned = spark.read.parquet(s"$dir/cells")
      .filter(col("cell").isin(wantedCells: _*))
    val wTop = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    probeCells
      .join(assigned, "cell")
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", dot("pv", "v") / (col("pnorm") * col("norm")))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cosine"), col("rn"))
  }

  /** B44 scale path #2 — IVF top-10 for the same probe set as the
    * brute-force query (approximate: recall measured in IvfSpec). */
  private val b44ivf = entryNoOracle("b44_similarity_ivf") { (s, d) =>
    search(Tables.embeddings(s, d), col("vec_id") < 20, k = 10, nProbe = 5)
      .orderBy("probe_id", "rn")
  }

  val entries: Seq[Entry] = Seq(b44ivf)
}
