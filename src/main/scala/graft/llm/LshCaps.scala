package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.exec.QueryScope

/** Bucket-size cap for banded-LSH candidate generation (SCALE.md §3.2).
  *
  * Every banded LSH here ([[MinHashLsh]], [[SimHash]], [[Similarity]])
  * generates candidates by self-joining (band, bucket) groups, costing
  * O(Σ bucket²). A degenerate corpus — e.g. thousands of byte-identical
  * documents — collapses into one bucket and turns that join quadratic.
  * The cap drops buckets larger than `cap` members before the self-join,
  * bounding the join at O(#buckets · cap²).
  *
  * What is lost: pairs whose ONLY collision is a hot bucket. That is the
  * standard trade (hot buckets are the LSH analogue of stopwords), and the
  * pairs a hot bucket would surface are exactly the ones exact-hash dedup
  * (b42) already catches for the identical-document case. Exactness-
  * sensitive callers (the SimHash t2 oracle twin, whose DuckDB SQL mirrors
  * uncapped complete banding) pass `bucketCap = None`.
  *
  * Bounded-candidate behavior on a 1k-identical-doc corpus is pinned by
  * SkewCapSpec.
  */
object LshCaps {
  /** Far above any honest bucket at test scale (sf0.1 buckets are ≤ small
    * dup-groups), low enough that a degenerate bucket can't go quadratic. */
  val DefaultBucketCap = 1000

  /** Drop (band, bucket) groups with more than `cap` members, as a
    * whole-partition window count over the bucket key. The window's
    * exchange hash-partitions on exactly the key the downstream candidate
    * self-join joins on, so Catalyst reuses one shuffle for the sizing
    * AND both self-join sides (a separate sizing-agg + anti-join could
    * not share its exchange — measured ~0.4s slower on the sf0.1 bench). */
  def capBuckets(banded: DataFrame, cap: Option[Int],
      keyCols: Seq[String] = Seq("band", "bucket")): DataFrame =
    cap match {
      case None => banded
      case Some(c) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*)
        banded
          .withColumn("__graft_bucket_sz", count(lit(1)).over(w))
          .filter(col("__graft_bucket_sz") <= c)
          .drop("__graft_bucket_sz")
    }

  /** The shared banded-LSH candidate join (one definition for MinHash,
    * SimHash, and sign-LSH): cap oversize buckets, then self-join on
    * (band, bucket) with `idCol`_a < `idCol`_b, carrying `carry` columns
    * through as <c>_a / <c>_b. Distinct pairs.
    *
    * The banded relation is cut with an EAGER localCheckpoint — a
    * deliberate, measured trade. The self-join consumes its child twice
    * and, at sf0.1, exchange-level reuse under AQE does not deduplicate
    * the signature pipeline above the bucket exchange (no barrier: 1.8s;
    * eager barrier: 0.9s; lazy eager=false barrier: bimodal 1.0-2.4s
    * across runs — AQE's stage planning interacts nondeterministically
    * with not-yet-materialized checkpoints). Cost of eager: a Spark job
    * runs when the DataFrame is CONSTRUCTED, and the checkpointed
    * (id, band, bucket) long rows — tiny — live until the ContextCleaner
    * collects them. On a cluster the equivalent cut is a durable
    * checkpoint or a persisted intermediate table. */
  def bandedCandidates(banded: DataFrame, idCol: String, bucketCap: Option[Int],
      carry: Seq[String] = Nil): DataFrame = {
    val capped = capBuckets(QueryScope.materialize("banded")(banded), bucketCap)
    def side(suffix: String) = capped.select(
      (Seq(col("band"), col("bucket"), col(idCol).as(s"$idCol$suffix")) ++
        carry.map(c => col(c).as(s"$c$suffix"))): _*)
    side("_a").join(side("_b"), Seq("band", "bucket"))
      .filter(col(s"${idCol}_a") < col(s"${idCol}_b"))
      .select((Seq(s"${idCol}_a", s"${idCol}_b") ++
        carry.flatMap(c => Seq(s"${c}_a", s"${c}_b"))).map(col): _*)
      .distinct()
  }
}
