package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** BIGINT-vector kernels for the integer-exact embedding ops (B99
  * SemDeDup, B102 k-means): `dot_i64(a, b)` = Σ aᵢ·bᵢ and
  * `sqdist_i64(a, b)` = Σ (aᵢ−bᵢ)² over two array<bigint> columns.
  *
  * The HOF spelling (`aggregate(zip_with(a, b, ...), 0L, +)`) allocates
  * an intermediate array and interprets two lambdas per element; B99's
  * within-cell pair filter evaluates it over |cell|² pairs × dim
  * elements, where it dominated the bench. These are fused primitive
  * loops (the dot_f64 pattern at LongType), codegen-inlined. Integer
  * sums are order-insensitive, so equality with the HOF and DuckDB
  * list_reduce spellings is exact by construction. Mismatched lengths
  * and null elements yield NULL (the zip_with-null-poisons-sum
  * behavior). */
object LongVecKernels {

  def dot(xs: ArrayData, ys: ArrayData): java.lang.Long = fold(xs, ys, squaredDistance = false)

  def sqdist(xs: ArrayData, ys: ArrayData): java.lang.Long = fold(xs, ys, squaredDistance = true)

  private def fold(xs: ArrayData, ys: ArrayData, squaredDistance: Boolean): java.lang.Long = {
    val n = xs.numElements()
    if (n != ys.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      val x = xs.getLong(i)
      val y = ys.getLong(i)
      acc += (if (squaredDistance) (x - y) * (x - y) else x * y)
      i += 1
    }
    acc
  }
}
