package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** `dot_f64(a, b)`: dot product over two array<double> columns (SURVEY
  * §2C tier (b): a native where the built-in form is inefficient).
  *
  * The HOF spelling `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, +)` builds
  * an intermediate product array and evaluates two lambdas per element in
  * the interpreter — per-row allocation and megamorphic dispatch in the
  * hottest loop of similarity search. This is a single fused primitive
  * loop that inlines into the surrounding projection's generated code.
  *
  * Summation is the same left-to-right order as the HOF fold and DuckDB's
  * list_dot_product, so t2 hash-matches are bit-identical. Mismatched
  * lengths yield NULL — the HOF's behavior (zip_with null-pads, null
  * poisons the sum), and the conservative reading of DuckDB's hard error;
  * a silent common-prefix dot product would rank corrupt vectors with
  * plausible-looking scores. A null element also yields null.
  */
object DotProductExpression {

  def dot(xs: ArrayData, ys: ArrayData): java.lang.Double = {
    val n = xs.numElements()
    if (n != ys.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      acc += xs.getDouble(i) * ys.getDouble(i)
      i += 1
    }
    acc
  }

  /** Installs every native ([[Natives.install]]); kept because
    * perfbench's kernel pass calls it by this expression's name. */
  def register(s: org.apache.spark.sql.SparkSession): Unit = Natives.install(s)
}
