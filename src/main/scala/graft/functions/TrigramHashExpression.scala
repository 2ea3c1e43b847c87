package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Native codepoint-trigram hashes for language identification (SURVEY §2C
  * tier (b); the b45_text_langid hot loop).
  *
  * `trigram_hashes(text)` returns `array<int>` with one entry per trigram
  * position: `cp(i)*961 + cp(i+1)*31 + cp(i+2)` over the string's Unicode
  * CODEPOINTS — exactly the value the DuckDB oracle computes as
  * `ascii(substr(text,i,1))*961 + ... ` (both `substr` and Spark's `ascii`
  * are codepoint-based, including supplementary-plane characters; pinned on
  * astral fixtures by b45_tri_unicode).
  *
  * The HOF spelling this replaces —
  * `transform(split(text,''), ascii)` + a second `transform(sequence(...))`
  * with three `element_at` lookups — materializes an array of single-char
  * STRINGS and evaluates two interpreted lambdas per character per row.
  * This is one fused JVM pass (codepoint scan + rolling 3-window), emitting
  * 4-byte ints straight into the explode that feeds the profile shuffle.
  *
  * No overflow: max codepoint 0x10FFFF × 961 ≈ 1.07e9 < 2^31-1, and the
  * three terms sum below 2^31 — same int arithmetic as the SQL spelling.
  * Strings with fewer than 3 codepoints yield an EMPTY array (callers gate
  * on `length(text) >= 3` anyway; `explode_outer` of the empty array keeps
  * row-identity semantics).
  */
object TrigramHashExpression {

  /** One fused pass: codepoints → rolling-window polynomial. Shared by
    * eval, the generated code, and the spec's JVM oracle. */
  def hashes(s: UTF8String): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val n = cps.length
    if (n < 3) return new GenericArrayData(Array.emptyIntArray)
    val out = new Array[Int](n - 2)
    var i = 0
    while (i < n - 2) {
      out(i) = cps(i) * 961 + cps(i + 1) * 31 + cps(i + 2)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Installs every native ([[Natives.install]]); kept because
    * perfbench's kernel pass calls it by this expression's name. */
  def register(s: org.apache.spark.sql.SparkSession): Unit = Natives.install(s)
}
