package graft.functions

import org.apache.spark.sql.catalyst.expressions.{XxHash64Function, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{IntegerType, StringType}

/** Native fused MinHash signature (SURVEY §2C tier (b); the
  * b43_dedup_minhash hot loop).
  *
  * `minhash_sigs(sh_arr)` maps a document's shingle array to its 64-wide
  * MinHash signature in ONE pass: per shingle, the same two hashes the
  * declarative spelling computes —
  * `a = xxhash64(shingle) & 2^62-1`, `b = xxhash64(1, xxhash64(shingle))
  * & 2^32-1` — then the running minimum of the Carter-Wegman family
  * `h_i = a + i·b` for all 64 i (incrementally, one add per i; masking
  * keeps `a + 63·b < 2^63`, so no ANSI overflow is reachable).
  *
  * Bit-identical to [[graft.llm.MinHashLsh.signaturesFromShingles]] by
  * construction ([[XxHash64Function]] / [[XXH64]] are the very functions
  * the `xxhash64` Expression evaluates; pinned on data by
  * MinHashLshSpec): `min` over a multiset equals `min` over its distinct
  * set, so consuming the (already-distinct) per-doc array gives exactly
  * the exploded aggregation's result. What the fusion deletes from the
  * plan at 100 TB: the per-(doc, shingle) explode rows, the 64-column
  * partial-agg buffers, and the signature shuffle — the signature
  * becomes a map-side projection of the document row.
  *
  * It takes the shingle STRINGS ([[sigs]], which hashes them first — the
  * standalone spelling) or pre-hashed shingle LONGS ([[sigsFromHashes]],
  * the [[ShingleHashesExpression]] pipeline, where xxhash64 already ran
  * inside the fused shingler).
  *
  * Null on empty input too (not just null input): a shingle-less doc has
  * NO MinHash signature — the declarative groupBy-min spelling emits no
  * row for it. A non-null sentinel here (64 × Long.MaxValue) would make
  * every empty doc band-collide in every LSH band and flood candidate
  * generation, and the function is registered session-wide, so unguarded
  * SQL use must stay safe without the call sites' size(...) > 0 gates.
  */
object MinHashSigExpression {
  val NumHashes = 64
  private val MaskA = 0x3FFFFFFFFFFFFFFFL
  private val MaskB = 0xFFFFFFFFL
  /** Seed state after xxhash64's first child `lit(1)`: hashInt(1, 42). */
  private val SeedB = XxHash64Function.hash(1, IntegerType, 42L)

  /** One fused pass: shingle bytes → (a, b) → 64 running minima. Shared
    * by eval, the generated code, and the spec's JVM oracle. Null for an
    * empty input — min over nothing is undefined. */
  def sigs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val mins = Array.fill(NumHashes)(Long.MaxValue)
    var j = 0
    while (j < n) {
      fold(XxHash64Function.hash(arr.getUTF8String(j), StringType, 42L), mins)
      j += 1
    }
    new GenericArrayData(mins)
  }

  /** [[sigs]] over pre-hashed shingles (array<long> input). */
  def sigsFromHashes(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val mins = Array.fill(NumHashes)(Long.MaxValue)
    var j = 0
    while (j < n) {
      fold(arr.getLong(j), mins)
      j += 1
    }
    new GenericArrayData(mins)
  }

  private def fold(sh: Long, mins: Array[Long]): Unit = {
    val a = sh & MaskA
    val b = XXH64.hashLong(sh, SeedB) & MaskB
    var v = a
    var i = 0
    while (i < NumHashes) {
      if (v < mins(i)) mins(i) = v
      v += b
      i += 1
    }
  }

  /** Installs every native ([[Natives.install]]); kept because
    * perfbench's kernel pass calls it by this expression's name. */
  def register(s: org.apache.spark.sql.SparkSession): Unit = Natives.install(s)
}
