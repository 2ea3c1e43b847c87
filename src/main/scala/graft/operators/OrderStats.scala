package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Two-phase GLOBAL order statistics — rank, ntile, running sum — with no
  * `Exchange SinglePartition` anywhere in the plan (VERDICT r14 item 2).
  *
  * The naive spelling of a global rank — `row_number() OVER (ORDER BY …)`
  * with no PARTITION BY — funnels the whole relation through one task.
  * Over a FACT table the engine's [[graft.plans.GlobalWindowScanRewrite]]
  * already decomposes running sums automatically; this helper is the
  * DataFrame-level generalization for ranks/ntiles over DIMENSION-scale
  * relations (customers, users, parts, join keys), which still grow with
  * the estate: at a 100 TB deployment "customers" is billions of rows and
  * a single-partition sort is the textbook scale-killer even though the
  * relation is ~10⁴× smaller than the facts.
  *
  * The decomposition is the B97 two-phase scan (SequencePack), generalized
  * from dense ids to arbitrary sort keys:
  *
  *   1. bucket each row by a caller-supplied BIGINT expression that is
  *      monotone non-decreasing in the FIRST sort key (for a descending
  *      key, bucket on the negated value — BIGINT `div` truncates toward
  *      zero, which is still monotone non-decreasing over negatives, and
  *      bucket CONTIGUITY is all the stitch needs, not exact floor);
  *      per-bucket counts (and running-sum totals) aggregate map-side and
  *      only O(non-empty buckets) scalars reach the driver, where the
  *      bucket-level prefix is folded (the b81/B97 manifest rule);
  *   2. a PARTITIONED window (partitionBy bucket) computes the local
  *      row_number / prefix sum in parallel; the global statistic is
  *      bucket offset + local value, stitched by a broadcast join on the
  *      bucket id.
  *
  * Rows sharing the first sort key share a bucket by construction, so the
  * buckets are contiguous runs of the global order and the stitch is
  * exact: the result is bit-identical to the naive global window
  * (OrderStatsSpec pins equality, including DESC orderings and ties).
  *
  * The driver fold also yields the grand totals (row count, running-sum
  * totals) for free — callers use them as literals instead of a separate
  * one-row aggregate, which would reintroduce a (bounded, but asserted-
  * against) SinglePartition exchange.
  *
  * DETERMINISM REQUIREMENT (ADVICE r15): the input is scanned TWICE —
  * phase 1 collects the per-bucket counts, phase 2 re-evaluates the same
  * plan under the window join. A non-deterministic input (a fresh
  * `rand()` column, an unstable limit/sample, a re-read of mutating
  * files) would split-brain the offsets against the rows and silently
  * produce wrong ranks. Callers must pass a deterministic plan — every
  * registry consumer does (pure column derivations over immutable
  * parquet: b199/b213/b227/b239 materialize upstream; b250's score
  * and b242's priorities are pure functions of the row). When in doubt,
  * `QueryScope.materialize` the input first; the helper does not force one
  * because for its common callers the input is a cheap scan-projection
  * and materializing it costs more than the second evaluation (the b94
  * negative A/B precedent).
  */
object OrderStats {

  /** Adds a 1-based global rank column (`row_number()` over `order` with
    * no partition, computed as the two-phase scan) and optional exact
    * global running sums.
    *
    * @param df      input; every row appears in the output unchanged
    * @param bucket  BIGINT bucket expression, monotone non-decreasing in
    *                the first column of `order` (same first-key value ⇒
    *                same bucket); non-null
    * @param order   total order (include a unique tie-break)
    * @param rankName output column for the global 1-based rank
    * @param runningSums (value column — BIGINT, non-null — , output name)
    *                pairs; each gets the exact global running sum over
    *                `order` with frame UNBOUNDED PRECEDING..CURRENT ROW
    * @return (df + rank + running-sum columns, total row count, grand
    *         total per running-sum column) — the totals are driver
    *         scalars from the same O(buckets) fold, free to embed as
    *         literals
    */
  def withGlobalRank(df: DataFrame, bucket: Column, order: Seq[Column],
      rankName: String, runningSums: Seq[(Column, String)] = Nil)
      : (DataFrame, Long, Seq[Long]) = {
    val spark = df.sparkSession
    val b = df.withColumn("_os_b", bucket)
    // phase 1: per-bucket totals → driver prefix fold (O(buckets) scalars)
    val aggCols = (count(lit(1)).as("_os_cnt") +:
      runningSums.zipWithIndex.map { case ((c, _), i) => sum(c).as(s"_os_s$i") })
    val per = b.groupBy("_os_b").agg(aggCols.head, aggCols.tail: _*)
      .collect().sortBy(_.getLong(0))
    var cAcc = 0L
    val sAcc = Array.fill(runningSums.size)(0L)
    val offRows = per.map { r =>
      val row = Row.fromSeq(r.getLong(0) +: cAcc +: sAcc.toSeq)
      cAcc += r.getLong(1)
      for (i <- runningSums.indices) sAcc(i) += r.getLong(2 + i)
      row
    }
    val schema = StructType(
      StructField("_os_b", LongType, nullable = false) +:
        StructField("_os_coff", LongType, nullable = false) +:
        runningSums.indices
          .map(i => StructField(s"_os_soff$i", LongType, nullable = false)))
    val offDf = spark.createDataFrame(
      java.util.Arrays.asList(offRows: _*), schema)
    // phase 2: parallel within-bucket window; global = bucket offset + local
    val w = Window.partitionBy(col("_os_b")).orderBy(order: _*)
    var out = b.join(broadcast(offDf), "_os_b")
      .withColumn(rankName,
        (col("_os_coff") + row_number().over(w)).cast("long"))
    runningSums.zipWithIndex.foreach { case ((c, name), i) =>
      out = out.withColumn(name,
        (col(s"_os_soff$i") + sum(c).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .cast("long"))
    }
    out = out.drop("_os_b", "_os_coff")
    runningSums.indices.foreach(i => out = out.drop(s"_os_soff$i"))
    (out, cAcc, sAcc.toSeq)
  }

  /** ANSI `ntile(k)` reconstructed from a global 1-based rank and the
    * driver-known row count: with q = n div k and r = n mod k, the first
    * r tiles hold q+1 rows and the rest hold q (exactly both engines'
    * ntile), so the tile of rank rn is a closed-form integer expression —
    * no window at all. All operands positive ⇒ trunc ≡ floor. */
  def ntileFromRank(rankCol: String, n: Long, k: Int): Column = {
    require(k >= 1, s"ntile bucket count must be >= 1, got $k")
    val q = n / k
    val r = n % k
    if (q == 0L) col(rankCol).cast("long") // n < k: every row its own tile
    else {
      val cut = r * (q + 1) // ranks 1..cut land in the r larger tiles
      expr(s"CAST(CASE WHEN $rankCol <= $cut" +
        s" THEN ($rankCol - 1) div ${q + 1} + 1" +
        s" ELSE $r + ($rankCol - 1 - $cut) div $q + 1 END AS BIGINT)")
    }
  }
}
