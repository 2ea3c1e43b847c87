package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
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
case class WordPieceEncodeExpression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "wordpiece_encode"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${other.catalogString}")
    }

  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    WordPieceEncodeExpression.encode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WordPieceEncodeExpression.encode($c)")

  override protected def withNewChildInternal(newChild: Expression): WordPieceEncodeExpression =
    copy(child = newChild)
}

object WordPieceEncodeExpression {

  private val memoCap = 65536
  /** ADVICE r14: cap KEY size too — the entry-count cap alone leaves
    * retained width unbounded on adversarial/high-entropy corpora (64Ki
    * arbitrary-length words per executor JVM for the process lifetime).
    * Words past this length are encoded but never memoized, bounding
    * retained heap to memoCap * O(memoMaxKeyLen). Real-token hit rates
    * are unaffected (natural-language words are far shorter). */
  private val memoMaxKeyLen = 64
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Max-munch over one word; OOV char → the whole word is "0". */
  private def encodeWord(w: String): String = {
    val cached = memo.get(w)
    if (cached != null) return cached
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
    val ids = if (dead) "0" else out.toString
    if (w.length <= memoMaxKeyLen && memo.size < memoCap) memo.put(w, ids)
    ids
  }

  /** Shared by eval, the generated code, and the spec's JVM oracle. */
  def encode(s: UTF8String): UTF8String = {
    val words = s.toString.split(" ", -1).filter(_.nonEmpty)
    UTF8String.fromString(words.map(encodeWord).mkString(" "))
  }

  def build(children: Seq[Expression]): WordPieceEncodeExpression = {
    if (children.size != 1)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> "wordpiece_encode",
          "expectedNum" -> "1",
          "actualNum" -> children.size.toString,
          "docroot" -> "NA"))
    WordPieceEncodeExpression(children.head)
  }
}
