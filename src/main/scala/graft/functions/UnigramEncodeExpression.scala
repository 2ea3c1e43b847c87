package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Native deterministic UNIGRAM-LM tokenizer for B152 (Kudo, ACL'18 —
  * the SentencePiece unigram model; VERDICT r11 item 3 / r12 item 4):
  * `unigram_encode(text)` → the space-joined token-id string under the
  * FROZEN integer-scored vocab shipped as the classpath resource
  * `graft/unigram_vocab.txt` (trained once by tools/train_unigram.py;
  * the checked-in file IS the tokenizer — no runtime training).
  *
  * Whitespace pre-tokenizes; each word is segmented by VITERBI DP:
  * minimize the total integer piece cost, ties broken by the minimal
  * interior-CUT-POSITION BITMASK (bit i set ⇔ a piece boundary sits
  * after character i). The bitmask tie-break is the one
  * sequence-shaped criterion that keeps optimal substructure: paths
  * reaching DP state j have all mask bits < j, and any common suffix
  * appends only bits ≥ j plus a common cost — so comparing (cost, mask)
  * at each state and extending the winner is exact, not heuristic
  * (UnigramSpec brute-forces every corpus word + randoms to pin this).
  * Mask bits freeze at position 62 (no Long wrap): words beyond 62
  * chars tie-break on their first 62 cut positions — deterministic at
  * any length, exact below it; the corpus cap is 8 (alphabet/length
  * pinned by spec) and the cost component stays exact at any length.
  *
  * Ids: 1-based line number in the vocab file (letters a..z are lines
  * 1..26). A word containing a character no piece covers has no path;
  * it encodes as the OOV sentinel "0" (unreachable on the corpora —
  * letters cover [a-z] fully).
  *
  * Scale posture: pure map-side scalar inside whole-stage codegen — no
  * shuffle, no model broadcast beyond the vocab baked into the class;
  * the word→ids memo (bounded, per executor) exploits Zipf exactly as
  * [[BpeEncodeExpression]] does. */
object UnigramEncodeExpression {

  /** (piece, cost) in file order; 1-based index = token id. */
  val vocab: Seq[(String, Int)] = {
    val in = getClass.getResourceAsStream("/graft/unigram_vocab.txt")
    require(in != null, "missing classpath resource graft/unigram_vocab.txt")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(p, c) = line.split(" ", 2)
      (p, c.toInt)
    }.toVector
    finally src.close()
  }

  /** piece → (1-based id, cost). */
  val pieceTable: Map[String, (Int, Int)] =
    vocab.zipWithIndex.map { case ((p, c), i) => p -> (i + 1, c) }.toMap

  val maxPieceLen: Int = vocab.map(_._1.length).max

  private val memoCap = 65536
  /** ADVICE r14: cap KEY size too — the entry-count cap alone leaves
    * retained width unbounded on adversarial/high-entropy corpora (64Ki
    * arbitrary-length words per executor JVM for the process lifetime).
    * Words past this length are encoded but never memoized, bounding
    * retained heap to memoCap * O(memoMaxKeyLen). Real-token hit rates
    * are unaffected (natural-language words are far shorter). */
  private val memoMaxKeyLen = 64
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val Inf = Long.MaxValue / 4

  /** Viterbi over one word: min (cost, cut-mask), backtracked to ids. */
  private def encodeWord(w: String): String = {
    val cached = memo.get(w)
    if (cached != null) return cached
    val L = w.length
    val cost = Array.fill(L + 1)(Inf)
    val mask = Array.fill(L + 1)(Inf)
    val backPos = Array.fill(L + 1)(-1)
    val backId = Array.fill(L + 1)(0)
    cost(0) = 0L; mask(0) = 0L
    var i = 0
    while (i < L) {
      if (cost(i) < Inf) {
        val maxLen = math.min(maxPieceLen, L - i)
        var len = 1
        while (len <= maxLen) {
          pieceTable.get(w.substring(i, i + len)) match {
            case Some((id, c)) =>
              val j = i + len
              val nc = cost(i) + c
              // bits stop at 62: Java's `1L << i` wraps at 64 (i & 63),
              // which would alias cut positions 64+ onto low bits and
              // make the tie-break undefined on 63+-char words (ADVICE
              // r13). Beyond bit 62 the mask freezes — the COST stays
              // exact at any length; ties on very long words break by
              // the first 62 cut positions only (deterministic, just
              // coarser — and unreachable on the corpora, whose word
              // cap is 8, pinned by UnigramSpec).
              val nm = mask(i) + (if (i > 0 && i <= 62) 1L << i else 0L)
              if (nc < cost(j) || (nc == cost(j) && nm < mask(j))) {
                cost(j) = nc; mask(j) = nm; backPos(j) = i; backId(j) = id
              }
            case None =>
          }
          len += 1
        }
      }
      i += 1
    }
    val ids =
      if (L == 0) ""
      else if (cost(L) >= Inf) "0" // uncoverable word → OOV sentinel
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[Int]
        var j = L
        while (j > 0) { out += backId(j); j = backPos(j) }
        out.reverseIterator.mkString(" ")
      }
    if (w.length <= memoMaxKeyLen && memo.size < memoCap) memo.put(w, ids)
    ids
  }

  /** Shared by eval, the generated code, and the spec's JVM oracle. */
  def encode(s: UTF8String): UTF8String = {
    val words = s.toString.split(" ", -1).filter(_.nonEmpty)
    UTF8String.fromString(words.map(encodeWord).mkString(" "))
  }

  /** Installs every native ([[Natives.install]]); kept because
    * perfbench's kernel pass calls it by this expression's name. */
  def register(s: org.apache.spark.sql.SparkSession): Unit = Natives.install(s)
}
