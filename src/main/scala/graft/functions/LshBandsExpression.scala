package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Native banded-LSH bucket keys over a MinHash signature (SURVEY §2C
  * tier (b); completes the b43 hot path after `shingle_hashes` →
  * `minhash_sigs` — every per-row text loop in the MinHash pipeline is
  * now a fused native pass).
  *
  * `lsh_bands(sig)` maps the 64-wide signature to its 16 band buckets:
  * bucket b = xxhash64 of the 4-long slice `sig[4b .. 4b+3]` — exactly
  * the value the declarative spelling
  * `transform(sequence(0, 15), b -> xxhash64(slice(sig, b*4+1, 4)))`
  * computes (Spark's xxhash64 over an array folds the elements through
  * [[XXH64.hashLong]] from seed 42; reproduced verbatim, spec-pinned),
  * without materializing 16 slice arrays or running an interpreted
  * lambda per band per row.
  */
object LshBandsExpression {
  val Bands = 16
  val RowsPerBand = 4

  /** bucket b = seed-42 XXH64 fold of the band's 4 signature longs —
    * Spark's array-hash semantics, reproduced. Shared by eval, codegen,
    * and the spec's JVM oracle. */
  def bands(sig: ArrayData): ArrayData = {
    require(sig.numElements() == Bands * RowsPerBand,
      s"lsh_bands expects a ${Bands * RowsPerBand}-wide signature, got ${sig.numElements()}")
    val out = new Array[Long](Bands)
    var b = 0
    while (b < Bands) {
      var h = 42L
      var i = 0
      while (i < RowsPerBand) {
        h = XXH64.hashLong(sig.getLong(b * RowsPerBand + i), h)
        i += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Installs every native ([[Natives.install]]); kept because
    * perfbench's kernel pass calls it by this expression's name. */
  def register(s: org.apache.spark.sql.SparkSession): Unit = Natives.install(s)
}
