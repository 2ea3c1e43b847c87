package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** BYTE-FALLBACK UNIGRAM TOKENIZER (B177 — completing VERDICT r13 item 5,
  * whose wording covers BOTH b122 and b152; SentencePiece's
  * `--byte_fallback` applied to the unigram model, Kudo ACL'18 §3 +
  * Radford et al. 2019 §2.2): `unigram_encode_bf(text)` segments each
  * word by the SAME Viterbi (cost, cut-mask) DP as
  * [[UnigramEncodeExpression]], except the candidate set at every
  * position additionally contains ONE synthetic piece per code point —
  * the code point's UTF-8 bytes at cost
  * [[UnigramByteFallback.ByteCostPerByte]] per byte. Every word
  * therefore has a complete path: the OOV sentinel "0" of the base
  * tokenizer becomes unreachable, and arbitrary Unicode round-trips.
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
  * the DP.
  *
  * Tie-break: identical cut-position bitmask rule as the base DP (bits
  * freeze at 62 — the ADVICE r13 wrap guard); a byte piece covers one
  * code point (1-2 UTF-16 chars — surrogate pairs stay whole, a
  * surrogate half alone would not re-decode) and sets one cut bit like
  * any other piece. On all-[a-z] input the candidate sets differ only
  * by never-chosen byte pieces, so encode_bf ≡ encode — spec-pinned.
  *
  * Id space: 1..N vocab line numbers (as the base tokenizer),
  * [[UnigramByteFallback.ByteBase]]+0..+255 bytes — disjoint
  * (require-checked at class load).
  *
  * Scale posture: both directions are pure map-side scalars inside
  * whole-stage codegen (the [[UnigramEncodeExpression]] posture
  * verbatim); the byte candidates add O(1) work per DP position and
  * nothing to the baked-in model; nothing shuffles. */
case class UnigramEncodeBytesExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "unigram_encode_bf"
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
    UnigramByteFallback.encode(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UnigramByteFallback.encode($c)")
  override protected def withNewChildInternal(newChild: Expression): UnigramEncodeBytesExpression =
    copy(child = newChild)
}

case class UnigramDecodeBytesExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "unigram_decode_bf"
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
    UnigramByteFallback.decode(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UnigramByteFallback.decode($c)")
  override protected def withNewChildInternal(newChild: Expression): UnigramDecodeBytesExpression =
    copy(child = newChild)
}

object UnigramByteFallback {

  /** Byte id b encodes as ByteBase + b (b in 0..255) — the same byte id
    * plane the BPE fallback uses, far above the vocab line numbers. */
  val ByteBase = 1000
  require(UnigramEncodeExpression.vocab.size < ByteBase,
    "unigram vocab ids overlap the byte-fallback id space")

  /** Per-byte fallback cost. Strictly above every vocab cost so the
    * exchange argument holds: an optimal path never covers a coverable
    * code point with its bytes. */
  val ByteCostPerByte: Long = 1L << 20
  require(UnigramEncodeExpression.vocab.iterator.map(_._2).max < ByteCostPerByte,
    "a vocab cost reaches the byte-fallback cost; the fallback domain would blur")
  // the independent-oracle contract needs vocab pieces to be [a-z]-only:
  // then non-[a-z] coverage is possible ONLY through byte pieces
  require(UnigramEncodeExpression.vocab.forall(_._1.forall(c => c >= 'a' && c <= 'z')),
    "unigram vocab must be [a-z]-only for the byte-fallback domain contract")

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

  /** Viterbi over one word: min (cost, cut-mask) over vocab pieces PLUS
    * the per-code-point byte piece; backtracked to ids. backId < 0 marks
    * a byte piece (span re-derived from backPos at emit time). */
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
        // bit rule shared with the base DP (freeze at 62 — no Long wrap)
        val cutBit = if (i > 0 && i <= 62) 1L << i else 0L
        val nmBase = mask(i) + cutBit
        val maxLen = math.min(UnigramEncodeExpression.maxPieceLen, L - i)
        var len = 1
        while (len <= maxLen) {
          UnigramEncodeExpression.pieceTable.get(w.substring(i, i + len)) match {
            case Some((id, c)) =>
              val j = i + len
              val nc = cost(i) + c
              if (nc < cost(j) || (nc == cost(j) && nmBase < mask(j))) {
                cost(j) = nc; mask(j) = nmBase; backPos(j) = i; backId(j) = id
              }
            case None =>
          }
          len += 1
        }
        // the byte piece: this code point as its UTF-8 bytes
        val cp = w.codePointAt(i)
        val cc = Character.charCount(cp)
        val nBytes = utf8Len(cp)
        val j = i + cc
        val nc = cost(i) + ByteCostPerByte * nBytes
        if (nc < cost(j) || (nc == cost(j) && nmBase < mask(j))) {
          cost(j) = nc; mask(j) = nmBase; backPos(j) = i; backId(j) = -1
        }
      }
      i += 1
    }
    val ids =
      if (L == 0) ""
      else {
        // every position advances by >= 1 char (byte piece), so a
        // complete path always exists — the OOV sentinel is unreachable
        val pieces = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = L
        while (j > 0) {
          val i0 = backPos(j)
          if (backId(j) > 0) pieces += backId(j).toString
          else pieces += w.substring(i0, j)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            .map(b => (ByteBase + (b & 0xFF)).toString).mkString(" ")
          j = i0
        }
        pieces.reverseIterator.mkString(" ")
      }
    if (w.length <= memoMaxKeyLen && memo.size < memoCap) memo.put(w, ids)
    ids
  }

  private def utf8Len(cp: Int): Int =
    if (cp < 0x80) 1 else if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4

  /** Shared by eval, the generated code, and the spec's JVM oracle. */
  def encode(s: UTF8String): UTF8String = {
    val words = s.toString.split(" ", -1).filter(_.nonEmpty)
    UTF8String.fromString(words.map(encodeWord).mkString(" "))
  }

  /** Vocab ids append their piece; maximal byte-id runs decode as one
    * UTF-8 sequence (the BPE-fallback decoder rule). Unknown ids decode
    * to "" — deterministic, unreachable for encoder output. */
  def decode(s: UTF8String): UTF8String = {
    val str = s.toString
    if (str.isEmpty) return UTF8String.EMPTY_UTF8
    val sb = new java.lang.StringBuilder(str.length)
    val run = new java.io.ByteArrayOutputStream()
    def flushRun(): Unit = if (run.size() > 0) {
      sb.append(new String(run.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      run.reset()
    }
    str.split(" ", -1).foreach { w =>
      if (w.nonEmpty) {
        val id = try w.toInt catch { case _: NumberFormatException => 0 }
        if (id >= ByteBase && id <= ByteBase + 255) run.write(id - ByteBase)
        else {
          flushRun()
          if (id >= 1 && id <= UnigramEncodeExpression.vocab.size)
            sb.append(UnigramEncodeExpression.vocab(id - 1)._1)
        }
      }
    }
    flushRun()
    UTF8String.fromString(sb.toString)
  }

}
