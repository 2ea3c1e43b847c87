package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Native deterministic UNIGRAM-LM tokenizer for B152 (Kudo, ACL'18 —
  * the SentencePiece unigram model; VERDICT r11 item 3 / r12 item 4) and
  * its byte-fallback mode for B177: `unigram_encode(text)` → the
  * space-joined token-id string under the FROZEN integer-scored vocab
  * shipped as the classpath resource `graft/unigram_vocab.txt` (trained
  * once by tools/train_unigram.py; the checked-in file IS the tokenizer —
  * no runtime training).
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
  * 1..26). In `unigram_encode` a word containing a character no piece
  * covers has no path; it encodes as the OOV sentinel "0" (unreachable on
  * the corpora — letters cover [a-z] fully).
  *
  * BYTE FALLBACK (`unigram_encode_bf`, B177 — completing VERDICT r13 item
  * 5, whose wording covers BOTH b122 and b152; SentencePiece's
  * `--byte_fallback` applied to the unigram model, Kudo ACL'18 §3 +
  * Radford et al. 2019 §2.2): the candidate set at every DP position
  * additionally holds ONE synthetic piece per code point — its UTF-8
  * bytes, ids in the [[Tokenizer.ByteBase]] plane, at [[ByteCostPerByte]]
  * per byte. A byte piece covers one code point (1-2 UTF-16 chars —
  * surrogate pairs stay whole, a surrogate half alone would not
  * re-decode) and sets one cut bit like any other piece. Every word
  * therefore has a complete path: the OOV sentinel becomes unreachable,
  * and arbitrary Unicode round-trips through `unigram_decode_bf`
  * ([[Tokenizer.decode]]).
  *
  * Exactness of the fallback DOMAIN (what the b177 oracle predicts
  * independently): vocab pieces are [a-z]-only (require-checked), so a
  * non-[a-z] code point can only be covered by its byte piece; and
  * because ByteCostPerByte exceeds every vocab cost, an optimal path
  * never spends a byte piece on a coverable code point (replacing it
  * with the single-letter piece strictly lowers the cost — the exchange
  * argument; ties can't rescue it since cost wins before mask). Hence
  * the emitted fallback-byte count is EXACTLY the UTF-8 length of the
  * input's non-[a-z] code points — DuckDB predicts it without replaying
  * the DP. On all-[a-z] input the candidate sets differ only by
  * never-chosen byte pieces, so encode_bf ≡ encode — spec-pinned.
  *
  * Scale posture: pure map-side scalars inside whole-stage codegen — no
  * shuffle, no model broadcast beyond the vocab baked into the class;
  * the byte candidates add O(1) work per DP position, and each mode's
  * [[WordMemo]] runs the DP once per distinct word. */
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

  /** id → piece; index 0 is the OOV sentinel (""). */
  private val idToPiece: Array[String] = ("" +: vocab.map(_._1)).toArray

  /** Per-byte fallback cost. Strictly above every vocab cost so the
    * exchange argument holds: an optimal path never covers a coverable
    * code point with its bytes. */
  val ByteCostPerByte: Long = 1L << 20
  require(vocab.iterator.map(_._2).max < ByteCostPerByte,
    "a vocab cost reaches the byte-fallback cost; the fallback domain would blur")
  // the independent-oracle contract needs vocab pieces to be [a-z]-only:
  // then non-[a-z] coverage is possible ONLY through byte pieces
  require(vocab.forall(_._1.forall(c => c >= 'a' && c <= 'z')),
    "unigram vocab must be [a-z]-only for the byte-fallback domain contract")

  private val Inf = Long.MaxValue / 4

  private def utf8Len(cp: Int): Int =
    if (cp < 0x80) 1 else if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4

  /** Viterbi over one word: min (cost, cut-mask) over vocab pieces, plus
    * the per-code-point byte piece with `byteFallback`; backtracked to
    * ids. backId < 0 marks a byte piece (its span is backPos(j)..j). */
  private def encodeWord(w: String, byteFallback: Boolean): String = {
    val L = w.length
    val cost = Array.fill(L + 1)(Inf)
    val mask = Array.fill(L + 1)(Inf)
    val backPos = Array.fill(L + 1)(-1)
    val backId = Array.fill(L + 1)(0)
    cost(0) = 0L; mask(0) = 0L
    def relax(i: Int, j: Int, nc: Long, nm: Long, id: Int): Unit =
      if (nc < cost(j) || (nc == cost(j) && nm < mask(j))) {
        cost(j) = nc; mask(j) = nm; backPos(j) = i; backId(j) = id
      }
    var i = 0
    while (i < L) {
      if (cost(i) < Inf) {
        // bits stop at 62: Java's `1L << i` wraps at 64 (i & 63), which
        // would alias cut positions 64+ onto low bits and make the
        // tie-break undefined on 63+-char words (ADVICE r13). Beyond bit
        // 62 the mask freezes — the COST stays exact at any length; ties
        // on very long words break by the first 62 cut positions only
        // (deterministic, just coarser — and unreachable on the corpora,
        // whose word cap is 8, pinned by UnigramSpec).
        val nm = mask(i) + (if (i > 0 && i <= 62) 1L << i else 0L)
        val maxLen = math.min(maxPieceLen, L - i)
        var len = 1
        while (len <= maxLen) {
          pieceTable.get(w.substring(i, i + len)) match {
            case Some((id, c)) => relax(i, i + len, cost(i) + c, nm, id)
            case None =>
          }
          len += 1
        }
        if (byteFallback) {
          val cp = w.codePointAt(i)
          relax(i, i + Character.charCount(cp), cost(i) + ByteCostPerByte * utf8Len(cp), nm, -1)
        }
      }
      i += 1
    }
    if (L == 0) ""
    else if (cost(L) >= Inf) "0" // uncoverable word → OOV sentinel
    else {
      val cuts = scala.collection.mutable.ArrayBuffer.empty[Int]
      var j = L
      while (j > 0) { cuts += j; j = backPos(j) }
      val sb = new java.lang.StringBuilder(L * 3)
      cuts.reverseIterator.foreach { j =>
        if (backId(j) > 0) {
          if (sb.length > 0) sb.append(' ')
          sb.append(backId(j))
        } else Tokenizer.appendByteIds(sb, w.substring(backPos(j), j))
      }
      sb.toString
    }
  }

  private val base = new WordMemo(encodeWord(_, byteFallback = false))
  private val withBytes = new WordMemo(encodeWord(_, byteFallback = true))

  /** `unigram_encode`; shared by eval, the generated code, and the specs. */
  def encode(s: UTF8String): UTF8String = base.encode(s)

  /** `unigram_encode_bf`. */
  def encodeBf(s: UTF8String): UTF8String = withBytes.encode(s)

  /** `unigram_decode_bf`. */
  def decodeBf(s: UTF8String): UTF8String = Tokenizer.decode(s, idToPiece, bytes = true)

  /** Installs every native ([[Natives.install]]); kept because
    * perfbench's kernel pass calls it by this expression's name. */
  def register(s: org.apache.spark.sql.SparkSession): Unit = Natives.install(s)
}
