package graft.functions

/** Morton (Z-order) interleave of two bucketized long keys (SURVEY §2C
  * tier (b): a native where no built-in composition is codegen-clean).
  *
  * `z_order2(x, y)` interleaves the low [[ZOrderExpression.Bits]] bits of
  * each input — x on even bit positions, y on odd — producing the key for
  * multi-dimensional data clustering: sorting by z-value keeps rows close
  * in BOTH dimensions physically close in the file, so parquet row-group
  * min/max stats stay tight on BOTH columns and a range predicate on
  * either (or both) skips most row groups. Single-column sorting (the b61
  * layout) gives that for one column only.
  *
  * Callers bucketize raw keys into [0, 2^Bits) first — typically
  * `(k - min) * (2^Bits - 1) div max(max - min, 1)` with min/max from
  * table stats — because interleaving RAW low bits (high-entropy) would
  * destroy locality instead of creating it. The kernel masks inputs
  * to Bits bits regardless, so out-of-range inputs degrade (wrap) rather
  * than corrupt the sort.
  *
  * The built-in spelling — an `aggregate(sequence(0, Bits-1), ...)` fold
  * of shift/or terms — evaluates two interpreted lambdas per bit per row
  * at write time; this is one fused loop that participates in whole-stage
  * codegen. Null in either key → null (sorts together, like NULLS in any
  * layout column).
  */
object ZOrderExpression {
  /** 21 bits per dimension → 42-bit z-values: enough for 2M buckets per
    * dimension (far beyond useful clustering granularity) while two
    * interleaved dimensions stay well inside a long. */
  final val Bits = 21
  final val Mask = (1L << Bits) - 1

  /** The one interleave loop: eval, generated code and the spec oracle
    * all call it. */
  def interleave(a: Long, b: Long): Long = {
    val x = a & Mask
    val y = b & Mask
    var z = 0L
    var i = 0
    while (i < Bits) {
      z |= ((x >>> i) & 1L) << (i << 1)
      z |= ((y >>> i) & 1L) << ((i << 1) + 1)
      i += 1
    }
    z
  }

  /** Installs every native ([[Natives.install]]); kept because
    * perfbench's kernel pass calls it by this expression's name. */
  def register(s: org.apache.spark.sql.SparkSession): Unit = Natives.install(s)
}
