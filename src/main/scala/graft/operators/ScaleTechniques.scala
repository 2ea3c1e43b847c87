package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale techniques the 100 TB posture calls for beyond plan hygiene
  * (SURVEY §4B, driver mandate: "repartition/bucketing for co-located
  * joins, salting for skew, AQE for runtime re-plan"):
  *
  *   - [[saltedJoin]] — explicit key salting for skewed equi-joins. AQE's
  *     skew-join handles most cases at runtime; salting is the static
  *     fallback when one hot key dwarfs everything (AQE splits partitions,
  *     not single keys on the build side). The left (skewed) side gets a
  *     deterministic salt from a secondary column; the right side is
  *     replicated across all salt values. Correctness is
  *     equivalence-tested against the plain join in ScaleTechniquesSpec.
  *
  *   - [[coLocatedJoin]] — bucketed tables joined without a shuffle: both
  *     sides written `bucketBy(n, key)` share a partitioning, so the join
  *     plans with zero Exchange nodes (asserted in the spec). At 100 TB
  *     this is the difference between re-shuffling the fact table on every
  *     join and reading it pre-partitioned from storage.
  */
object ScaleTechniques {

  /** Equi-join `left.key == right.key` with the left side salted into
    * `saltBuckets` sub-keys. `saltSource` must be a deterministic left-side
    * column (never rand() — t2 rules) with enough spread to split hot keys. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      saltSource: Column, saltBuckets: Int): DataFrame = {
    val salted = left.withColumn("_salt", pmod(xxhash64(saltSource), lit(saltBuckets)))
    val replicated = right.withColumn("_salt",
      explode(expr(s"sequence(0L, ${saltBuckets - 1}L)")))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Join two catalog tables that were bucketed on `key` with equal bucket
    * counts — plans without any Exchange when bucketing lines up. */
  def coLocatedJoin(spark: org.apache.spark.sql.SparkSession,
      leftTable: String, rightTable: String, key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)

  /** Write a DataFrame as a bucketed managed table (sorted within buckets
    * for merge-friendly reads). Drops any same-named table first AND
    * clears an orphaned warehouse location a previous JVM may have left
    * behind (the in-memory catalog forgets tables on exit, but their
    * directories survive and block CREATE). */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    // warehouse.dir may be a file: URI or a raw path, possibly with
    // characters (spaces) that URI parsing rejects — try URI, fall back raw
    val warehousePath =
      try java.nio.file.Paths.get(java.net.URI.create(warehouse))
      catch { case _: IllegalArgumentException | _: java.nio.file.FileSystemNotFoundException =>
        java.nio.file.Paths.get(warehouse.stripPrefix("file:"))
      }
    val loc = warehousePath.resolve(table.toLowerCase(java.util.Locale.ROOT))
    graft.exec.WorkDirs.delete(loc)
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }
}
