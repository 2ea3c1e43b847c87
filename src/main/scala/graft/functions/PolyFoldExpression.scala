package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Native form of the oracle-replicable 40-bit polynomial fold
  * (graft.llm.Winnowing: `(h * 31 + codepoint) & ((1<<40)-1)`) — the hash
  * behind the b56/b59/b98 deterministic samplers and b100's hashed
  * n-gram features.
  *
  * The SQL spelling (`aggregate(transform(sequence(1, length(s)), j ->
  * ascii(substring(s, j, 1))), 0L, fold)`) allocates a position array
  * plus one UTF8String per CHARACTER and runs two interpreted lambdas
  * per character — b100 evaluates it over every feature occurrence of
  * the corpus (millions of short strings), where it dominated the
  * bench. This is one codepoint loop, codegen-inlined into
  * the surrounding projection.
  *
  * Equality with the SQL forms is exact: `ascii(substring(s, j, 1))`
  * walks CODEPOINTS (as does DuckDB's `ascii(substr(...))`), so the fold
  * here iterates codepoints too — NOT chars, which would diverge on the
  * first supplementary-plane character, and NOT bytes, which would
  * diverge on the first non-ASCII one (the Winnowing.polyFoldString
  * contract, spec-pinned in PolyFoldSpec alongside the HOF twin). */
object PolyFoldExpression {
  private val Mask = (1L << 40) - 1

  /** Codepoint fold — the JVM hot-loop twin of Winnowing.polyFoldString
    * (kept static so codegen can call it without an object reference). */
  def fold(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      h = (h * 31 + cp) & Mask
      i += Character.charCount(cp)
    }
    h
  }
}
