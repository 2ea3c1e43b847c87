package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Inverse of [[BpeEncodeExpression]] for B151 (VERDICT r11 item 4 / r12
  * item 3): `bpe_decode(ids)` maps the space-joined token-id string back
  * to text under the SAME frozen merge table
  * (`graft/bpe_merges.txt`) — id 1..26 → 'a'..'z', id 26+k → the rank-k
  * merge's surface string, id 0 (the out-of-vocab sentinel, unreachable
  * on encode output) → "".
  *
  * BPE encoding drops word boundaries (the id string joins all words'
  * ids with the same separator), so the round-trip law the B151 entry
  * pins corpus-wide is decode(encode(text)) ≡ text with spaces removed —
  * the strongest inverse the id format admits, and exactly what a
  * detokenizer recovers before boundary re-insertion.
  *
  * Scale posture: pure map-side scalar inside whole-stage codegen — the
  * id→token table is an O(vocab) array baked into the class, no shuffle,
  * no broadcast, O(tokens) per row. */
object BpeDecodeExpression {

  /** id → token surface string; index 0 is the OOV sentinel (""). Built
    * from the same frozen table [[BpeEncodeExpression.tokenIds]] loads,
    * so encode and decode cannot drift. */
  val idToToken: Array[String] = {
    val arr = new Array[String](BpeEncodeExpression.tokenIds.size + 1)
    arr(0) = ""
    BpeEncodeExpression.tokenIds.foreach { case (tok, id) => arr(id) = tok }
    arr
  }

  /** Shared by eval, the generated code, and the spec's JVM oracle.
    * Unknown / out-of-range ids decode to "" (matching the oracle's
    * drop-unknown replace). */
  def decode(s: UTF8String): UTF8String = {
    val str = s.toString
    if (str.isEmpty) return UTF8String.EMPTY_UTF8
    val sb = new java.lang.StringBuilder(str.length)
    str.split(" ", -1).foreach { w =>
      if (w.nonEmpty) {
        val id = try w.toInt catch { case _: NumberFormatException => 0 }
        if (id > 0 && id < idToToken.length) sb.append(idToToken(id))
      }
    }
    UTF8String.fromString(sb.toString)
  }
}
