package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Banded random-hyperplane (sign-LSH) bucket keys for one embedding
  * vector: 16 deterministic pseudo-random hyperplane projections → a
  * 16-bit sign pattern → 4 bands of 4 bits, returned as array<bigint> of
  * the 4 band-bucket values.
  *
  * Built for [[graft.plans.CosineLshRewrite]], which injects this on both
  * sides of a rescued `cosine ≥ τ` join: the only property needed is that
  * the SAME deterministic function runs on both sides, so near-parallel
  * vectors agree on a band with high probability (identical vectors agree
  * on all 4 with probability 1 — projections are bit-identical). The
  * hyperplane component for (plane p, dimension j) is a zero-mean value
  * derived from splitmix64(p·2^32 + j) — self-contained, no dependence on
  * the session hash functions.
  *
  * Accepts array<float> (the raw embedding column) or array<double>; a
  * NULL array, NULL element, or EMPTY array yields NULL (the row simply
  * generates no candidates — the residual predicate would reject it
  * anyway). The empty case matters because every empty vector projects
  * to 0 on every plane: a non-null result would give all empty vectors
  * ONE shared signature that collides in every band and floods candidate
  * generation (the minhash_sigs empty-input rule, r5 ADVICE). It runs
  * once per input row (not per candidate pair), off the join's hot loop.
  */
object SignLshBandsExpression {
  val NumPlanes = 16
  val Bands = 4
  val BitsPerBand: Int = NumPlanes / Bands

  def bandsOfFloats(arr: ArrayData): ArrayData = bands(arr, isFloat = true)

  def bandsOfDoubles(arr: ArrayData): ArrayData = bands(arr, isFloat = false)

  private def bands(arr: ArrayData, isFloat: Boolean): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    var bits = 0
    var p = 0
    while (p < NumPlanes) {
      var proj = 0.0
      var j = 0
      while (j < n) {
        if (arr.isNullAt(j)) return null
        val x = if (isFloat) arr.getFloat(j).toDouble else arr.getDouble(j)
        proj += x * component(p, j)
        j += 1
      }
      if (proj >= 0.0) bits |= 1 << p
      p += 1
    }
    val buckets = new Array[Long](Bands)
    var b = 0
    while (b < Bands) {
      buckets(b) = ((bits >>> (b * BitsPerBand)) & ((1 << BitsPerBand) - 1)).toLong
      b += 1
    }
    new GenericArrayData(buckets)
  }

  /** Installs every native ([[Natives.install]]); kept because
    * perfbench's kernel pass calls it by this expression's name. */
  def register(s: org.apache.spark.sql.SparkSession): Unit = Natives.install(s)

  /** Zero-mean hyperplane component in [-0.5, 0.5) for (plane, dim). */
  def component(plane: Int, dim: Int): Double = {
    val h = splitmix64((plane.toLong << 32) | (dim.toLong & 0xFFFFFFFFL))
    (h >>> 11) * 1.1102230246251565e-16 - 0.5 // 2^-53
  }

  /** The standard splitmix64 finalizer (public-domain constant schedule). */
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
