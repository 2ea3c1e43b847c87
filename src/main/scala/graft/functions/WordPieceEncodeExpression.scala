package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Native deterministic GREEDY LONGEST-MATCH-FIRST tokenizer for B155 —
  * the WordPiece inference rule (Wu et al. 2016's max-munch decode, the
  * segmenter BERT ships): at every position consume the LONGEST vocab
  * piece that matches, no backtracking. Shares the frozen piece
  * inventory (and ids) of `graft/unigram_vocab.txt` with
  * [[UnigramEncodeExpression]] — same vocab, different decision rule —
  * which is exactly what makes the B152-vs-B155 comparison meaningful:
  * Viterbi is cost-optimal, max-munch is the O(len·maxLen) zero-state
  * approximation (UnigramSpec/WordPieceSpec pin a word where they
  * disagree). The ##-continuation refinement of full WordPiece is
  * deliberately absent: this vocab carries no positional split, so
  * initial and continuation inventories coincide (documented, not
  * hidden). Letters cover [a-z], so greedy never dead-ends; a character
  * outside every piece encodes the word as the OOV sentinel "0" ([UNK]).
  *
  * Scale posture: identical to the sibling tokenizers — pure map-side
  * scalar inside whole-stage codegen, Zipf-memoized per executor, no
  * shuffle at any corpus size. */
object WordPieceEncodeExpression {

  /** Max-munch over one word; OOV char → the whole word is "0". */
  private def encodeWord(w: String): String = {
    val table = UnigramEncodeExpression.pieceTable
    val maxLen = UnigramEncodeExpression.maxPieceLen
    val L = w.length
    val out = new java.lang.StringBuilder(L * 2)
    var pos = 0
    var dead = false
    while (pos < L && !dead) {
      var len = math.min(maxLen, L - pos)
      var id = 0
      while (len >= 1 && id == 0) {
        table.get(w.substring(pos, pos + len)) match {
          case Some((i, _)) => id = i
          case None => len -= 1
        }
      }
      if (id == 0) dead = true
      else {
        if (out.length > 0) out.append(' ')
        out.append(id)
        pos += len
      }
    }
    if (dead) "0" else out.toString
  }

  private val memo = new WordMemo(encodeWord)

  /** Shared by eval, the generated code, and the spec's JVM oracle. */
  def encode(s: UTF8String): UTF8String = memo.encode(s)
}
